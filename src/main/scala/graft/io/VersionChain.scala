package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The lifecycle of a chain of immutable versions `<root>/v<N>` of
  * [[BucketedTable]] state (the curation release chain,
  * `pipelines.Curation`). An incremented version references
  * buckets of its ancestors by manifest, so deleting an old version
  * naively would tear every newer one. The rule:
  *
  *   - a version counts once [[isCommitted]] holds (its last write);
  *   - an ANCHOR is a version whose tables are all self-contained, so
  *     nothing at or above it reads below it;
  *   - only the tip may be compacted into an anchor: descendants of
  *     an older version reference its pre-compact directories;
  *   - [[vacuum]] deletes only below the newest retained anchor, then
  *     sweeps crashed-write orphans inside what stays.
  *
  * A chain supplies its state tables and its commit predicate; the
  * rest is derived here, once. */
trait VersionChain {

  /** The version's bucketed state tables as (path, schema DDL, bucket
    * scheme). Tables landed whole are self-contained per version and
    * are not listed. */
  protected def tables(spark: SparkSession, vroot: String): Seq[(String, String, String)]

  /** The version at `vroot` has landed its last write, so a crash
    * mid-landing never counts as a version. */
  def isCommitted(spark: SparkSession, vroot: String): Boolean

  def versionRoot(root: String, b: Long): String = s"$root/v$b"

  /** Committed version numbers under `root`, ascending. */
  def committedVersions(spark: SparkSession, root: String): Seq[Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.drop(1).toLong)
      .filter(b => isCommitted(spark, versionRoot(root, b)))
      .sorted
  }

  /** Root of the newest committed version under `root`. */
  def tip(spark: SparkSession, root: String): String = {
    val vs = committedVersions(spark, root)
    require(vs.nonEmpty, s"no committed version under $root")
    versionRoot(root, vs.last)
  }

  private def selfContained(spark: SparkSession, vroot: String,
      ts: Seq[(String, String, String)]): Boolean =
    ts.forall { case (p, _, _) => BucketedTable.isSelfContainedIfCommitted(spark, p, vroot) }

  /** The version at `vroot` is an anchor. A version missing a table
    * (an earlier layout or a torn landing) is not an anchor rather
    * than an error, so retention refuses instead of crashing. */
  def isAnchor(spark: SparkSession, vroot: String): Boolean =
    selfContained(spark, vroot, tables(spark, vroot))

  /** Rewrite every state table of the version at `vroot` into
    * self-contained one-dir-per-bucket form: pure I/O, rows
    * byte-equal. Only safe on a version with no descendants. */
  def compactState(spark: SparkSession, vroot: String): Unit = {
    val ts = tables(spark, vroot)
    ts.foreach { case (p, _, _) =>
      require(BucketedTable.isCommitted(spark, p),
        s"state table at $p has no committed manifest (earlier layout or " +
          "torn landing); compacting it cannot land an anchor, rebuild the " +
          "version instead")
    }
    ts.foreach { case (p, s, sch) => BucketedTable.compact(spark, p, s, sch) }
  }

  def compactTip(spark: SparkSession, root: String): Unit =
    compactState(spark, tip(spark, root))

  private def intConf(spark: SparkSession, key: String, default: Int): Int =
    spark.conf.getOption(key).map { s =>
      try s.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be an integer, got '$s'")
      }
    }.getOrElse(default)

  /** Compact the freshly landed version at `vroot` when its widest
    * bucket carries more than `graft.chain.compactMaxDirs` (default 8)
    * directories. Appends add one directory per touched bucket, so
    * without this an append-only chain's read fan-out grows without
    * bound; 8 amortizes one pure-I/O rewrite over ~7 appends. Returns
    * whether it compacted. */
  def compactIfWide(spark: SparkSession, vroot: String): Boolean = {
    val wide = maxDirsPerBucket(spark, vroot) > intConf(spark, "graft.chain.compactMaxDirs", 8)
    if (wide) compactState(spark, vroot)
    wide
  }

  /** Every data directory the version's manifests reference. */
  def referencedDirs(spark: SparkSession, vroot: String): Set[String] =
    tables(spark, vroot).flatMap { case (p, _, _) => BucketedTable.referencedDirs(spark, p) }.toSet

  /** Delete crashed-write leftovers in the version's tables; `live`
    * must union [[referencedDirs]] over every retained version.
    * Returns the deleted directories. */
  def sweepOrphans(spark: SparkSession, vroot: String, live: Set[String]): Seq[String] =
    tables(spark, vroot).flatMap { case (p, _, _) => BucketedTable.sweepOrphans(spark, p, live) }

  /** The widest per-bucket directory list across the version's tables
    * (manifest reads only). */
  def maxDirsPerBucket(spark: SparkSession, vroot: String): Int =
    tables(spark, vroot).foldLeft(0) { case (m, (p, _, _)) =>
      m.max(BucketedTable.maxDirsPerBucket(spark, p)) }

  /** Keep the newest `keepLast` committed versions, delete only below
    * the newest anchor at or below the oldest kept one (none: delete
    * nothing), then sweep orphans inside what stays.
    *
    * An anchor must also carry every table kind an older version
    * carries: a tip that lost a kind to a crash must not let vacuum
    * delete the ancestors holding that kind's only state.
    *
    * When `graft.chain.autoCompactVersions` (default 16; ≤ 0
    * disables) committed versions sit above the newest anchor, the
    * tip is compacted first: increments that splice never trigger
    * [[compactIfWide]], and without an anchor vacuum refuses forever. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int): Unit = {
    require(keepLast >= 1, "must keep at least the current version")
    val vs = committedVersions(spark, root)
    val ts = vs.map(b => b -> tables(spark, versionRoot(root, b))).toMap
    val kinds = ts.map { case (b, t) => b -> t.map(_._1.split("/").last).toSet }
    def anchor(b: Long): Boolean =
      vs.filter(_ < b).flatMap(kinds).toSet.subsetOf(kinds(b)) &&
        selfContained(spark, versionRoot(root, b), ts(b))
    val auto = intConf(spark, "graft.chain.autoCompactVersions", 16)
    if (auto > 0 && vs.size >= auto) {
      val sinceAnchor = vs.reverse.find(anchor)
        .map(a => vs.count(_ > a)).getOrElse(vs.size)
      if (sinceAnchor >= auto) compactState(spark, versionRoot(root, vs.last))
    }
    if (vs.size > keepLast) {
      val oldestKept = vs.takeRight(keepLast).head
      vs.filter(_ <= oldestKept).reverse.find(anchor).foreach { a =>
        val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        vs.filter(_ < a).foreach(b => fs.delete(new Path(versionRoot(root, b)), true))
      }
    }
    // a dir absent from every retained manifest can never become
    // referenced again: manifests only carry forward prior entries or
    // their own local writes
    val kept = committedVersions(spark, root)
    val live = kept.flatMap(b => referencedDirs(spark, versionRoot(root, b))).toSet
    kept.foreach(b => sweepOrphans(spark, versionRoot(root, b), live))
  }
}
