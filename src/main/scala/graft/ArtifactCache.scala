package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.IterState

/** Process-wide memo of MATERIALIZED derived tables ("index
  * artifacts"), keyed by (kind, corpus dir, data fingerprint): every
  * derived table that is built once per corpus version and consumed
  * by several independent queries — the kNN index
  * (`Similarity.knnGraphShared`), LSH band tables, minhash
  * signatures, shingle-set arrays, the dedup cluster decision.
  *
  * This is the production posture, not a bench trick: a near-dup
  * index over a 100 TB corpus is built by the release pipeline and
  * READ by every downstream audit/apply/curation pass (the
  * `pipelines.Curation`/`pipelines.AnnIndex` chains are the
  * explicit, versioned form of the same thing); re-running the
  * shingle→signature→band derivation inside every consumer is what
  * no real pipeline does. Within this process the first consumer
  * builds and lands the artifact as parquet under the iteration
  * root; later consumers read the files.
  *
  * The fingerprint (name:length:mtime of every file in the corpus
  * dir) keys out in-place data regeneration; a new corpus version in
  * a new dir is a new key by construction. Files are swept at JVM
  * exit via the `IterState` registry. */
object ArtifactCache {

  // plain map + reentrant lock, NOT ConcurrentHashMap.computeIfAbsent:
  // artifact builders call back into the cache for their dependencies
  // (cluster decision -> capped bands -> signatures), and a nested
  // computeIfAbsent on the same map throws "Recursive update" whenever
  // the keys land in one bin. synchronized is reentrant for the
  // building thread; concurrent builders serialize, which is the
  // behavior a shared index build wants anyway.
  private val paths = new java.util.HashMap[String, String]()

  private def memo(key: String)(run: => String): String = paths.synchronized {
    val hit = paths.get(key)
    if (hit != null) hit
    else { val p = run; paths.put(key, p); p }
  }

  // Ledger of every artifact build this process ran: (kind, seconds).
  // A warm query loop legitimately amortizes these once-per-corpus-
  // version builds away (they are the release pipeline's cost, not
  // the query's), but the amortized cost must stay VISIBLE — the
  // perfbench harness reads `buildLog` before and after each op and
  // reports the deltas as its ArtifactCache build metrics.
  //
  // Each entry is the build's SELF time: elapsed minus the elapsed of
  // any builds nested inside it. Artifact builders call back into the
  // cache for their dependencies (cluster decision → capped bands →
  // signatures; PQ codes → codebook), so recording full elapsed for
  // both parent and child would count the child's seconds twice and
  // overstate the ledger total — self-times sum to the true
  // wall-clock spent building, and each kind carries exactly the cost
  // a pre-built child would have removed.
  private val builds = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  // Per-thread stack of child-elapsed accumulators backing the
  // self-time rule. Builds are thread-local by construction: the memo
  // lock serializes cross-thread builders, and a nested build runs on
  // its parent's thread.
  private val nested = new ThreadLocal[java.util.ArrayDeque[Array[Double]]] {
    override def initialValue() = new java.util.ArrayDeque[Array[Double]]()
  }

  /** Run `f` as the named index build: record its SELF time (elapsed
    * minus nested timed builds) in the ledger, and charge its full
    * elapsed to the enclosing build, if any. */
  private def timedBuild[A](kind: String)(f: => A): A = {
    val stack = nested.get()
    stack.push(Array(0.0))
    val t0 = System.nanoTime()
    try {
      val a = f
      val self = (System.nanoTime() - t0) / 1e9 - stack.peek()(0)
      builds.synchronized { builds += ((kind, self)) }
      a
    } finally {
      stack.pop()
      if (!stack.isEmpty()) stack.peek()(0) += (System.nanoTime() - t0) / 1e9
    }
  }

  /** Snapshot of all builds so far (kind → summed seconds). */
  def buildLog: Seq[(String, Double)] = builds.synchronized {
    builds.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(-_._2)
  }

  private def dirFingerprint(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).sortBy(_.getPath.getName)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .mkString(",")
  }

  private def build(spark: SparkSession, kind: String, df: => DataFrame): String = {
    val p = s"${IterState.rootFor(spark)}/art_${kind}_${java.util.UUID.randomUUID().toString.take(8)}"
    IterState.register(spark, p)
    // REBALANCE at the write boundary: file count follows the DATA
    // (AQE advisory size), not the builder's execution parallelism — a
    // derivation spread across N tasks otherwise lands N tiny files,
    // and `files.minPartitionNum` then forces every consumer scan into
    // one-task-per-file (measured: the 32-file bigram artifact tripled
    // its consumers' scan stages). Guide §6's coalesce-on-write rule.
    // parallelismFirst=false FOR THE WRITE ONLY: the default coalesces
    // rebalance output by the 1 MB floor (bigrams still landed 4 tiny
    // files), not the advisory size; flipping it globally would also
    // fold CPU-heavy query shuffles to one task, so scope it here.
    val pfKey = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val prevPf = spark.conf.getOption(pfKey)
    spark.conf.set(pfKey, "false")
    try df.hint("rebalance").write.mode("overwrite").parquet(p)
    finally prevPf match {
      case Some(v) => spark.conf.set(pfKey, v)
      case None    => spark.conf.unset(pfKey)
    }
    p
  }

  /** The materialized artifact `kind` for corpus `dir`: built by `df`
    * on first touch, read back as parquet here and on every later
    * call. `df` is evaluated at most once per (kind, dir, content). */
  def table(spark: SparkSession, kind: String, dir: String)(df: => DataFrame): DataFrame =
    tableReleasable(spark, kind, dir)((df, () => ()))

  /** `table` for builders that hand back a cleanup handle alongside
    * the plan (iteration storage, caches): the handle runs once the
    * artifact parquet has fully consumed the plan. */
  def tableReleasable(spark: SparkSession, kind: String, dir: String)
      (build: => (DataFrame, () => Unit)): DataFrame = {
    val path = memo(s"$kind|$dir|${dirFingerprint(spark, dir)}") {
      timedBuild(kind) {
        val (df, release) = build
        val p = this.build(spark, kind, df)
        release()
        p
      }
    }
    spark.read.parquet(path)
  }
}
