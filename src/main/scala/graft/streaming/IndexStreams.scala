package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipelines.NavIndex

/** Streaming INDEX MAINTENANCE: newly arrived embedding drops are
  * absorbed into the navigable-graph index one micro-batch at a time,
  * each batch landing a complete, immutable index VERSION under
  * `root/v<batchId>` — the first batch as a full build
  * ([[NavIndex.buildState]]), every later one as the delta increment
  * ([[NavIndex.incrementState]]), falling back to a full rebuild when
  * the batch pushes the corpus across a seed-band width boundary
  * (the one growth step an increment cannot honor).
  *
  * CRASH-REPLAY CONTRACT (foreachBatch is at-least-once): a batch's
  * prior state is the newest COMMITTED version numbered BELOW its own
  * batchId — never a mutable "latest" pointer. A replayed batch
  * therefore re-derives the SAME next version from the SAME prior
  * (its own half-landed version is numbered >= its batchId and is
  * skipped by construction), and the rebuild overwrites that version
  * in place: at-least-once delivery collapses to exactly-once index
  * state, the posture `VecStreams.searchGate` takes for answers and
  * `Writers.mergeKeyed` for keyed tables. A version is COMMITTED when
  * its graph table carries a `BucketedTable` manifest (the last file
  * the version's last landed table writes). Increment-landed versions
  * REFERENCE unchanged buckets in ancestor versions, so retiring old
  * versions must keep everything at or above the newest full
  * build/rebuild (which references nothing) — see `BucketedTable`'s
  * retention contract.
  *
  * Versions are append-only and never mutated after commit, so
  * readers ([[currentGraph]]) see a complete graph at all times;
  * retiring old versions is release-policy, like `compactKeyed`'s
  * vacuum. Scale: each micro-batch RE-RANKS only the change frontier
  * (NavIndex's contract) — the streaming form just decides version
  * names, replay semantics, and the PATH.
  *
  * ROUTING (round 13 — the round-12 guidance made behavior): a
  * uniform delta perturbs every neighborhood, so its true frontier
  * IS the corpus and the increment machinery pays MORE than a warm
  * rebuild (measured ×10/×100, PERF.md round 12); only a LOCALIZED
  * delta (a new content domain) has the concentrated frontier
  * increments are built for. [[maintainBatch]] therefore measures
  * the delta's estimated seed-frontier fraction
  * (`NavIndex.seedFrontierFraction` — one delta-sized band projection
  * against a pruned read of the landed band table, no ranking) and
  * routes to the rebuild path when it
  * exceeds [[RebuildFrontierFrac]], the same
  * contract posture as the width-boundary fallback. Exactness is
  * identical on every path, so routing can only change cost, never
  * content.
  */
object IndexStreams {

  private def versionRoot(root: String, b: Long): String = s"$root/v$b"

  /** Estimated-frontier fraction above which a delta routes to the
    * rebuild path. 0.5: measured localized deltas estimate well
    * under it and uniform deltas estimate ≈ 1.0 at every scale
    * (PERF.md round 13) — the regimes are separated by a wide gap,
    * not a tuned edge. */
  private val RebuildFrontierFrac = 0.5

  /** Per-bucket directory-count ceiling above which a freshly-landed
    * increment version is compacted in place
    * ([[NavIndex.compactState]]). Appends accumulate one directory
    * per increment in their hot buckets (splices do not), so a
    * localized-only stream crosses this every ~`threshold` batches
    * and pays one pure-I/O rewrite that (a) returns reads to
    * ~1 dir/bucket and (b) lands a chain ANCHOR so [[vacuum]] can
    * reclaim the pre-compact chain — without it an increment-only
    * chain grows directories and retained versions without bound.
    * Default 8: the rewrite (no recompute) amortizes over ~7
    * zero-prior-I/O appends. Set it very large to defer compaction
    * to an explicit [[compact]] call. */
  private def compactMaxDirs(spark: SparkSession): Int =
    spark.conf.getOption("graft.nav.compactMaxDirs").map { s =>
      try s.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft.nav.compactMaxDirs must be an integer dir count, got '$s'")
      }
    }.getOrElse(8)

  /** Landed-and-committed version numbers under `root`, ascending. */
  private[graft] def committedVersions(spark: SparkSession, root: String): Seq[Long] =
    graft.io.ChainRetention.committedVersions(spark, root,
      NavIndex.isCommitted(spark, _))

  /** The newest committed graph under `root` (throws if none yet). */
  def currentGraph(spark: SparkSession, root: String): DataFrame = {
    val vs = committedVersions(spark, root)
    require(vs.nonEmpty, s"no committed index version under $root")
    NavIndex.graph(spark, versionRoot(root, vs.last))
  }

  /** Absorb one micro-batch of embedding rows as index version
    * `v<batchId>` — the foreachBatch body, callable directly for the
    * batch-parity, replay, and routing specs. Returns
    * the path taken ("build" | "increment" | "rebuild(width)" |
    * "rebuild(frontier)") — deterministic in (batch, prior state), so
    * a replayed batch re-takes the same path. */
  private[graft] def maintainBatch(spark: SparkSession, batch: DataFrame,
      root: String, batchId: Long): String = {
    val next = versionRoot(root, batchId)
    val vs = committedVersions(spark, root)
    // replay-after-vacuum guard (see `AnnStreams.maintainBatch` — the
    // shared hazard): a batch whose own version is already committed
    // treats it as authoritative and no-ops, instead of re-deriving
    // from a prior that vacuum may have retired (the None branch would
    // full-build from the delta alone, vanishing the prior corpus).
    if (vs.contains(batchId)) return "replay(noop)"
    vs.filter(_ < batchId).lastOption match {
      case None =>
        NavIndex.buildState(spark, batch, next); "build"
      case Some(prior) =>
        val priorRoot = versionRoot(root, prior)
        val nPrior = NavIndex.readVecs(spark, priorRoot).count()
        val nd = batch.count()
        val nNext = nPrior + nd
        if (graft.ops.Similarity.navBitsFor(nPrior) !=
            graft.ops.Similarity.navBitsFor(nNext)) {
          // crossing a seed-band width boundary re-buckets every seed
          // — the one growth step an increment cannot honor
          NavIndex.rebuildState(spark, batch, priorRoot, next); "rebuild(width)"
        } else if (!NavIndex.hasBandState(spark, priorRoot)) {
          // prior version predates the versioned band state (round-14
          // layout): a rebuild lands it and re-opens the increment path
          NavIndex.rebuildState(spark, batch, priorRoot, next); "rebuild(layout)"
        } else if (NavIndex.seedFrontierFraction(spark, batch, priorRoot,
            nPrior, nd) > RebuildFrontierFrac) {
          NavIndex.rebuildState(spark, batch, priorRoot, next); "rebuild(frontier)"
        } else {
          NavIndex.incrementState(spark, batch, priorRoot, next)
          if (NavIndex.maxDirsPerBucket(spark, next) > compactMaxDirs(spark)) {
            NavIndex.compactState(spark, next); "increment+compact"
          } else "increment"
        }
    }
  }

  /** ANCHORIFY the newest committed version under `root` —
    * [[NavIndex.compactState]] on the chain tip (the tip has no
    * descendants, so no other manifest can reference the directories
    * the rewrite supersedes). After it, the tip is a chain anchor and
    * [[vacuum]] reclaims every version below; [[maintainBatch]] runs
    * this automatically past the `graft.nav.compactMaxDirs` dir-count
    * threshold, this entrypoint is the explicit/scheduled form. */
  def compact(spark: SparkSession, root: String): Unit = {
    val vs = committedVersions(spark, root)
    require(vs.nonEmpty, s"no committed index version under $root")
    NavIndex.compactState(spark, versionRoot(root, vs.last))
  }

  /** Retire old index versions — the retention contract made
    * behavior (round 13): an increment-landed version REFERENCES
    * buckets in ancestor versions, so naive delete-the-oldest would
    * tear newer versions' tables. This vacuum keeps the newest
    * `keepLast` committed versions, finds the newest chain ANCHOR
    * (a full build/rebuild — references nothing outside itself,
    * `NavIndex.isAnchor`) at or below the oldest kept version, and
    * deletes only versions strictly BELOW that anchor: everything
    * kept resolves inside the kept set by construction. If no such
    * anchor exists (the kept window is all increments of an older
    * chain), nothing is deleted — safety over reclamation; the next
    * rebuild (width-boundary or frontier-routed, both land anchors)
    * re-opens the window. Same posture as `Writers.vacuumKeyed`, with
    * the reference-counting the manifest layout requires. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int): Unit =
    graft.io.ChainRetention.vacuum(spark, root, keepLast,
      NavIndex.isCommitted(spark, _),
      (_, vr) => NavIndex.isAnchor(spark, vr),
      NavIndex.referencedDirs(spark, _),
      (vr, live) => { NavIndex.sweepOrphans(spark, vr, live); () },
      () => compact(spark, root))

  /** The maintenance gate: `stream` is an embeddings-format streaming
    * DataFrame (`VecStreams.readQueries` shape); each micro-batch
    * lands one index version per the replay contract above. */
  def navMaintainGate(spark: SparkSession, stream: DataFrame,
      root: String, checkpoint: String): StreamingQuery = {
    // the micro-batch session is a clone taken at start — graft_dot
    // must already be in the registry it inherits
    graft.functions.VectorFunctions.register(spark)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        maintainBatch(spark, batch, root, batchId)
        () // route label is for direct callers; the gate's contract is the landed version
      }
      .start()
  }
}
