package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.BucketedTable
import graft.ops.Similarity

/** Incrementally-maintained NAVIGABLE-graph index — the release-
  * pipeline form of `Similarity.navGraphShared` (the HNSW-analogue
  * artifact `sim_graph_search` walks), maintained the way `AnnIndex`
  * maintains the cell kNN index: release vN lands the graph state,
  * release vN+1 costs the DELTA.
  *
  * NN-descent is an iterative GLOBAL fixpoint, so "re-pair the
  * touched buckets" (the `AnnIndex` recipe) is not enough: a new
  * vector can evict an edge, and that eviction can change a third
  * node's candidate set two rounds later. The increment is instead a
  * CHANGE-FRONTIER propagation — self-adjusting computation over the
  * unrolled rounds, exact by construction:
  *
  *   - SEED: only nodes sharing a band bucket with a delta vector can
  *     see a different candidate set (a bucket no delta vector lands
  *     in keeps its members and its pairing verdict). Within those,
  *     round 12 splits by whether the bucket's pairing RULE moved:
  *     in a GROW-ONLY bucket (cap side, quantized anchor width, and
  *     min-id anchor all stable) existing members' pair sets only
  *     gained delta pairs, so their new round-0 list is
  *     top-16(prior top-16 ∪ new pairs) — the grow-splice identity
  *     top-k(S ∪ A) = top-k(top-k(S) ∪ A) — at O(deg + delta-pairs)
  *     cost per node; only rule-flip buckets' members and the delta
  *     nodes themselves full-rank through the seed generator. Splice
  *     every other node's round-0 edges from the prior release
  *     verbatim. (Before the quantized anchor rule, ONE delta vector
  *     in an over-cap bucket moved every member's anchor threshold,
  *     so exactness forced whole-mega-bucket re-ranks — measured at
  *     ×100 as a 1% increment costing more than a warm full rebuild,
  *     PERF.md round 12.)
  *   - ROUND r: a node's NN-descent candidates are its undirected
  *     neighborhood plus that neighborhood's neighborhoods, so its
  *     round-r edges can change only if it IS an endpoint of a
  *     round-(r-1) changed edge or is adjacent to one in the old∪new
  *     adjacency. Re-rank that affected set against the FULL new
  *     round-(r-1) state; splice the rest. The frontier is DIFFED
  *     (nodes re-ranked to an identical list leave it), so a delta
  *     that perturbs nothing propagates nothing.
  *
  * Exactness: an unaffected node has a bit-identical candidate set by
  * the containment argument above, vectors are immutable, and the
  * ranking rule is deterministic (6-dp cosine, id tiebreak) — so the
  * spliced state equals the full rebuild row-for-row at every round
  * (`PipelineSpec` pins it, including across a bucket-cap flip, the
  * one discontinuous knob).
  *
  * STORAGE (round 13 — the splice I/O floor removed): every state
  * table (vectors, the three round edge lists, the final graph, and —
  * round 14 — the seed band table with its per-bucket width stats) is
  * a [[graft.io.BucketedTable]] — the node-keyed tables
  * bucket-partitioned by [[PartBits]] sign-bit LOCALITY regions of
  * the vector space, the band-keyed ones by hash(b, key)
  * ([[BandScheme]]), all versioned by manifest. An increment physically rewrites ONLY the buckets its
  * change frontier touches and carries every other bucket by
  * manifest reference into the prior release; the delta's vectors
  * land as a pure APPEND (zero prior-vector I/O). Before this, every
  * spliced table was truncate-loaded WHOLE, so the increment's cost
  * floor was corpus-sized write I/O no matter how small the frontier
  * (PERF.md round 12 measured localized +0.7% increments at 35–49 s
  * against a 51–60 s rebuild — most of it that floor). The bucket
  * key is sign-bit LOCALITY, not a hash, deliberately: the regime
  * where increments beat rebuilds is the LOCALIZED delta (a new
  * content domain), whose frontier concentrates in few regions — a
  * hash key would smear any frontier across every partition and
  * reinstate the floor.
  *
  * Scale (100 TB): every step is an equi-join against the landed
  * state; the recomputed set is |delta-touched buckets| then the
  * graph-distance-≤2 frontier per round — delta-proportional while
  * the graph's degree is capped (deg ≤ 16 directed, measured und
  * degree ≤ ~35), never a corpus-wide re-pair. Prior state is read,
  * never recomputed, and untouched buckets are neither read NOR
  * rewritten.
  */
object NavIndex {

  def vecsPath(root: String): String       = s"$root/nav_vecs"
  def roundPath(root: String, r: Int): String = s"$root/nav_e$r"
  def graphPath(root: String): String      = s"$root/nav_graph"
  def bandsPath(root: String): String      = s"$root/nav_bands"
  def bstatsPath(root: String): String     = s"$root/nav_bstats"

  /** Number of NN-descent refinement rounds (after the seed round) —
    * must match `Similarity.navGraphFrom`. */
  private val Rounds = 2

  private[graft] val RoundSchema = "node BIGINT, nbr_id BIGINT"
  private[graft] val VecsSchema  = "vec_id BIGINT, v ARRAY<DOUBLE>, norm DOUBLE"
  private[graft] val BandsSchema = "vec_id BIGINT, b INT, key STRING"
  private[graft] val BStatsSchema = "b INT, key STRING, bn BIGINT, a0 BIGINT"

  /** Bucket-key width of the versioned state tables: 2^6 = 64
    * sign-bit regions of the vector space (dims 1–6) — the
    * `navEntries` signature idiom applied to STORAGE locality. A
    * localized delta's change frontier concentrates in few regions,
    * so the splice rewrites few buckets; density skew (a heavy
    * region) only means the splice cost tracks the touched REGION's
    * mass, still bounded by the old whole-table floor. At
    * billion-vector scale a deployment widens this the same way the
    * band-width ladder widens. */
  private[graft] val PartBits = 6

  /** Bucket-scheme id stamped into every nav-state manifest
    * ([[graft.io.BucketedTable]]): sign-bit locality over [[PartBits]]
    * dims. Splices/pruned reads refuse tables stamped otherwise. */
  private[graft] val Scheme = s"navloc/$PartBits"

  /** Bucket scheme of the VERSIONED BAND STATE (round 14 — the
    * increment's last O(corpus) term removed): the seed band table
    * (vec_id, b, key) and its per-bucket width stats (b, key, bn, a0)
    * are landed state, keyed by hash(b, key) — the touch grain there
    * is the BAND BUCKET (an increment perturbs exactly the delta's
    * (b, key) set), so pruned reads hand back a touched bucket's
    * members/stats without scanning, let alone re-exploding, the
    * corpus. Before, every increment re-derived both from the vector
    * table: two 16-way explodes of the 512 B/row payload plus a
    * corpus-sized band materialization and a corpus-wide width
    * aggregate — PERF.md round 13 measured that at ~12 s of the
    * 29.8 s localized ×100 increment, re-deriving state the prior
    * release had already computed (the `AnnIndex.ann_widths` posture,
    * generalized). */
  private[graft] val BandScheme = s"bandhash/$PartBits"

  /** hash(b, key) bucket of a band row — pure function of the
    * immutable band coordinates. */
  private def bandPbOf(b: Column, key: Column): Column =
    pmod(hash(b, key), lit(1 << PartBits))

  private def withBandPb(df: DataFrame): DataFrame =
    df.withColumn("pb", bandPbOf(col("b"), col("key")))

  /** The landed band table / width stats of a committed version. */
  private[graft] def bands(spark: SparkSession, root: String): DataFrame =
    BucketedTable.read(spark, bandsPath(root), BandsSchema)

  private[graft] def bstats(spark: SparkSession, root: String): DataFrame =
    BucketedTable.read(spark, bstatsPath(root), BStatsSchema)

  /** The prior version carries the versioned band state (absent on
    * pre-round-14 layouts — `IndexStreams.maintainBatch` routes those
    * to a rebuild, which lands the new layout). */
  private[graft] def hasBandState(spark: SparkSession, root: String): Boolean =
    BucketedTable.isCommitted(spark, bandsPath(root)) &&
      BucketedTable.isCommitted(spark, bstatsPath(root))

  /** Locality bucket of a vector — pure function of the immutable
    * vector, so a node's rows land in the same bucket in every
    * version and bucket-grain splices are well-defined. */
  private def pbOf(v: Column): Column =
    (0 until PartBits).map(i =>
      when(element_at(v, i + 1) >= 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  private def withPb(df: DataFrame): DataFrame =
    df.withColumn("pb", pbOf(col("v")))

  /** node → bucket map read off the LANDED vector layout: bucket ids
    * are directory metadata ([[graft.io.BucketedTable.readWithPb]]),
    * so the scan touches one slim id column — deriving the same
    * values via [[pbOf]] would scan the full vector payload. */
  private def readVecsPbMap(spark: SparkSession, root: String): DataFrame =
    BucketedTable.readWithPb(spark, vecsPath(root), VecsSchema)
      .select(col("vec_id").as("node"), col("pb"))

  /** Committed-version readers — the ONLY supported way to read the
    * landed state (an incremented version's untouched buckets live in
    * ancestor directories; a raw parquet read of the version root
    * sees only what that version physically wrote). */
  def readVecs(spark: SparkSession, root: String): DataFrame =
    BucketedTable.read(spark, vecsPath(root), VecsSchema)

  def round(spark: SparkSession, root: String, r: Int): DataFrame =
    BucketedTable.read(spark, roundPath(root, r), RoundSchema)

  /** The landed navigable graph — the same edge set
    * `Similarity.navGraphShared` derives, here versioned per release. */
  def graph(spark: SparkSession, root: String): DataFrame =
    BucketedTable.read(spark, graphPath(root), RoundSchema)

  /** A complete index version is committed at `root` (the graph —
    * the last table every path lands — has a manifest). */
  private[graft] def isCommitted(spark: SparkSession, root: String): Boolean =
    BucketedTable.isCommitted(spark, graphPath(root))

  /** Every state table of a version, with its declared schema — the
    * one list [[isAnchor]], [[compactState]] and the dir-count
    * routing signal share, so a new state table cannot silently fall
    * out of the anchor/compaction contract. */
  private def stateTables(root: String): Seq[(String, String, String)] =
    Seq((vecsPath(root), VecsSchema, Scheme),
      (graphPath(root), RoundSchema, Scheme),
      (bandsPath(root), BandsSchema, BandScheme),
      (bstatsPath(root), BStatsSchema, BandScheme)) ++
      (0 to Rounds).map(r => (roundPath(root, r), RoundSchema, Scheme))

  /** The version at `root` is a chain ANCHOR: every state table
    * references only its own directories (true of [[buildState]] and
    * [[rebuildState]] outputs, and of increments AFTER
    * [[compactState]]; never of a freshly-landed increment, whose
    * vector append always references the prior release) — the point
    * below which older versions are reclaimable. A version missing a
    * state table (a pre-band-state layout, or a torn landing) is NOT
    * an anchor rather than an error: `IndexStreams.vacuum` scans
    * every retained version through this predicate, and an upgraded
    * chain must make it refuse toward the next rebuild, not crash. */
  private[graft] def isAnchor(spark: SparkSession, root: String): Boolean =
    stateTables(root).forall { case (p, _, _) =>
      BucketedTable.isSelfContainedIfCommitted(spark, p, root) }

  /** ANCHORIFY the committed version at `root`: rewrite every state
    * table into self-contained one-dir-per-bucket form
    * ([[graft.io.BucketedTable.compact]]) — pure I/O, zero graph
    * recompute, rows byte-equal, so parity is trivial. This is the
    * lifecycle step an increment-only chain was missing (round-13
    * verdict #1): a purely-localized workload appends a directory per
    * increment to its hot vector buckets forever, and no version ever
    * anchors, so `IndexStreams.vacuum` correctly refuses to reclaim
    * anything. Compacting the tip (a) caps the per-read dir-list tax
    * at ~1 dir/bucket and (b) turns the tip into a chain anchor, so
    * the next vacuum reclaims the whole pre-compact chain — minor
    * compaction + checkpointing, the lake-format lifecycle, on the
    * same Hadoop-FS primitives. Buckets already settled (one local
    * dir) are carried at zero cost, so the rewrite cost tracks the
    * referenced+appended mass, bounded by one corpus-sized read+write
    * with no ranking work. */
  def compactState(spark: SparkSession, root: String): Unit = {
    require(hasBandState(spark, root),
      s"nav-index version at $root predates the versioned band state " +
        "(pre-round-14 layout) — compacting it cannot land an anchor; " +
        "rebuild the navigable graph with buildState")
    stateTables(root).foreach { case (p, s, sch) =>
      BucketedTable.compact(spark, p, s, sch) }
  }

  /** Union of every data-directory URI the version's state-table
    * manifests reference — one version's contribution to the
    * chain-wide live set `IndexStreams.vacuum`'s orphan sweep
    * subtracts from. */
  private[graft] def referencedDirs(spark: SparkSession, root: String): Set[String] =
    stateTables(root).flatMap { case (p, _, _) =>
      BucketedTable.referencedDirs(spark, p) }.toSet

  /** Manifest-diff sweep of crashed-write leftovers across the
    * version's state tables ([[graft.io.BucketedTable.sweepOrphans]]);
    * `referenced` must union [[referencedDirs]] over every retained
    * version. Returns the deleted directories. */
  private[graft] def sweepOrphans(spark: SparkSession, root: String,
      referenced: Set[String]): Seq[String] =
    stateTables(root).flatMap { case (p, _, _) =>
      BucketedTable.sweepOrphans(spark, p, referenced) }

  /** The widest per-bucket directory list across the version's state
    * tables — the signal `IndexStreams.maintainBatch` routes
    * compaction on (manifest-only driver reads, no data I/O). */
  private[graft] def maxDirsPerBucket(spark: SparkSession, root: String): Int =
    stateTables(root).map { case (p, _, _) =>
      BucketedTable.maxDirsPerBucket(spark, p) }.max

  /** Land the vector table (full write) plus its band state — the
    * seam the width-boundary guard spec uses to stage a prior state
    * without paying a graph build. */
  private[graft] def landVecs(spark: SparkSession, emb: DataFrame, root: String): Unit = {
    BucketedTable.write(
      withPb(Similarity.vecsOf(spark, emb).select("vec_id", "v", "norm")),
      vecsPath(root), Scheme)
    val v = readVecs(spark, root)
    landBandState(spark, root, v, Similarity.navBitsFor(v.count()))
  }

  /** Land the versioned band state of `root`'s vectors: the band
    * table (the one explode of a full build) and, from its landed
    * narrow rows, the per-bucket width stats. */
  private def landBandState(spark: SparkSession, root: String,
      v: DataFrame, bits: Int): Unit = {
    BucketedTable.write(withBandPb(Similarity.navBands(v, bits)),
      bandsPath(root), BandScheme)
    BucketedTable.write(withBandPb(
      bands(spark, root).groupBy("b", "key")
        .agg(count(lit(1)).as("bn"), min("vec_id").as("a0"))),
      bstatsPath(root), BandScheme)
  }

  /** The vN full build: land vectors, the three directed round edge
    * lists, and the final symmetrized graph. `emb` is an
    * embeddings-format table (vec_id, embedding, label). */
  def buildState(spark: SparkSession, emb: DataFrame, root: String): Unit = {
    landVecs(spark, emb, root)
    buildRounds(spark, root, bandStateStaged = true)
  }

  /** The round chain over ALREADY-landed vectors at `root` — the seam
    * [[buildState]] and the width-boundary full-rebuild fallback of
    * `streaming.IndexStreams` share. The corpus is counted ONCE and
    * the size threaded through every `navTopK` tier decision. */
  private[pipelines] def buildRounds(spark: SparkSession, root: String,
      bandStateStaged: Boolean = false): Unit = {
    val v = readVecs(spark, root)
    val n = v.count()
    val bits = Similarity.navBitsFor(n)
    // node → bucket from the landed layout itself (bucket ids are
    // directory metadata): one slim vec_id column scanned, not the
    // 512 B/row vector payload pbOf would re-derive from
    val pbm = readVecsPbMap(spark, root).persist()
    def land(e: DataFrame, path: String): Unit =
      BucketedTable.write(e.join(pbm, "node"), path, Scheme)
    // land the versioned band state the maintenance paths stand on —
    // unless the CALLER just staged it for this root ([[buildState]]
    // via [[landVecs]]: same derivation from the same landed vectors,
    // so re-landing would pay the corpus-wide band explode twice per
    // full build). An explicit flag, not a hasBandState probe: a
    // crashed increment attempt can leave committed ancestor-
    // referencing band manifests at this root, and a rebuild that
    // adopted them would never become a chain anchor (and could
    // disagree with the landed vectors)
    if (!bandStateStaged) landBandState(spark, root, v, bits)
    land(Similarity.navTopK(spark, v,
      Similarity.navSeedPairs(bands(spark, root), Seq("b", "key"),
        stats = Some(bstats(spark, root))), n),
      roundPath(root, 0))
    for (r <- 1 to Rounds) {
      val prev = round(spark, root, r - 1)
      val u = Similarity.navExpandAdj(Similarity.navUnd(prev))
      land(Similarity.navTopK(spark, v,
        Similarity.navRefineCand(u).unionByName(prev), n), roundPath(root, r))
    }
    land(Similarity.navUnd(round(spark, root, Rounds)), graphPath(root))
    pbm.unpersist()
  }

  /** Full rebuild of `nextRoot` from `priorRoot`'s landed vectors
    * plus `deltaEmb` — the escape hatch when corpus growth crosses a
    * seed-band width boundary ([[incrementState]] refuses:
    * re-bucketing every seed is global by construction). Same landed
    * layout as [[buildState]], so readers cannot tell which path
    * produced a version — and a rebuild references NO ancestor, so it
    * restarts the manifest chain (the retention anchor). */
  def rebuildState(spark: SparkSession, deltaEmb: DataFrame,
      priorRoot: String, nextRoot: String): Unit = {
    val dv = Similarity.vecsOf(spark, deltaEmb).select("vec_id", "v", "norm")
    BucketedTable.write(withPb(readVecs(spark, priorRoot).unionByName(dv)),
      vecsPath(nextRoot), Scheme)
    buildRounds(spark, nextRoot)
  }

  /** ESTIMATED seed-frontier fraction of absorbing `deltaEmb` against
    * the state at `priorRoot`: (members of delta-touched band buckets
    * + the delta itself) / next-corpus size — the same set
    * [[incrementState]]'s seed round re-ranks or grow-splices, as a
    * fraction of the corpus, at the cost of one delta-sized band
    * projection and a partition-pruned read of the landed band table
    * (no ranking, no state writes). The routing signal
    * `streaming.IndexStreams.maintainBatch` reads: a LOCALIZED delta
    * (new content domain) touches few buckets and increments beat
    * rebuilds there; a UNIFORM delta of any size touches nearly every
    * bucket — its true frontier IS the corpus — and the rebuild is
    * measured cheaper (PERF.md rounds 12–13). Requires the prior and
    * next corpus to share a band width; callers check the width
    * boundary FIRST (a crossing routes to rebuild unconditionally). */
  def seedFrontierFraction(spark: SparkSession, deltaEmb: DataFrame,
      priorRoot: String): Double = {
    val nPrior = readVecs(spark, priorRoot).count()
    val nd = Similarity.vecsOf(spark, deltaEmb).count()
    seedFrontierFraction(spark, deltaEmb, priorRoot, nPrior, nd)
  }

  /** [[seedFrontierFraction]] with the prior/delta sizes THREADED from
    * the caller — `streaming.IndexStreams.maintainBatch` already
    * counted both for its width-boundary check, and re-counting here
    * was two redundant jobs per micro-batch (the `navTopK` lesson
    * applied to routing). */
  private[graft] def seedFrontierFraction(spark: SparkSession, deltaEmb: DataFrame,
      priorRoot: String, nPrior: Long, nd: Long): Double = {
    val dv = Similarity.vecsOf(spark, deltaEmb).select("vec_id", "v", "norm")
    val bits = Similarity.navBitsFor(nPrior + nd)
    // delta-touched buckets from the DELTA's explode only; prior
    // membership from the landed band table, partition-pruned to the
    // touched hash buckets — the routing probe is frontier-
    // proportional (round 14; before, it re-exploded the full prior
    // vector table per micro-batch)
    val db = withBandPb(Similarity.navBands(dv, bits))
      .select("b", "key", "pb").distinct().persist()
    val pbs = db.select("pb").distinct()
      .collect().map(_.getInt(0)).toSet // ≤ 2^PartBits values — driver-bounded
    val aff = BucketedTable.readParts(spark, bandsPath(priorRoot),
        BandsSchema, pbs, BandScheme)
      .join(db.select("b", "key"), Seq("b", "key"), "left_semi")
      .select("vec_id").distinct().count()
    db.unpersist()
    (aff + nd).toDouble / (nPrior + nd)
  }

  /** Release vN → vN+1: absorb `deltaEmb` (new vectors only; ids must
    * be disjoint from vN) against the state under `priorRoot`, land
    * the refreshed state under `nextRoot`. Only the change frontier
    * re-ranks, and only frontier-touched BUCKETS rewrite — everything
    * else is carried forward by manifest reference; the delta's
    * vectors land as a pure append. */
  def incrementState(spark: SparkSession, deltaEmb: DataFrame,
      priorRoot: String, nextRoot: String): Unit = {
    require(hasBandState(spark, priorRoot),
      s"prior nav-index version at $priorRoot predates the versioned band " +
        "state (pre-round-14 layout); rebuild the navigable graph with buildState")
    val dv = Similarity.vecsOf(spark, deltaEmb).select("vec_id", "v", "norm")
    BucketedTable.writeAppended(spark, withPb(dv),
      vecsPath(priorRoot), vecsPath(nextRoot), Scheme)
    val v = readVecs(spark, nextRoot)

    // frontier tables (changed edges, affected node sets) are small —
    // delta-proportional — but each is READ several times per round
    // (candidate build + three splice joins + next round's frontier),
    // and they chain exceptAll plans; land each through the IterState
    // seam so every consumer plans against a flat scan (measured 180 s
    // → delta-scaled without it; the navGraphFrom lesson again)
    val iterDir = s"${graft.ops.IterState.rootFor(spark)}/navinc_${java.util.UUID.randomUUID().toString.take(8)}"
    val cleanup = graft.ops.IterState.register(spark, iterDir)
    def mat(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$iterDir/$name")
      spark.read.parquet(s"$iterDir/$name")
    }

    // ---- seed round. The adaptive seed-band width must agree
    // between the prior build and this increment: crossing a width
    // boundary re-buckets every seed, which only a full rebuild can
    // honor.
    val priorV = readVecs(spark, priorRoot)
    val nPrior = priorV.count()
    val nNext = v.count()
    require(Similarity.navBitsFor(nPrior) == Similarity.navBitsFor(nNext),
      s"corpus growth $nPrior -> $nNext crosses a seed-band width boundary; " +
        "rebuild the navigable graph with buildState")
    val pbm = mat(readVecsPbMap(spark, nextRoot), "pbm")
    val bits = Similarity.navBitsFor(nNext)
    // the delta's band rows — the ONLY explode of the increment
    // (round 14: the corpus-wide band explode + materialization and
    // the corpus-wide width aggregate are gone; the prior release's
    // band table and per-bucket width stats are LANDED state, read
    // partition-pruned to the delta-touched hash buckets)
    val deltaBands = mat(withBandPb(Similarity.navBands(dv, bits)), "dbands")
    val deltaIds = dv.select(col("vec_id"))
    val touched = deltaBands.select("b", "key").distinct()
    val touchedBandPb = deltaBands.select("pb").distinct()
      .collect().map(_.getInt(0)).toSet // ≤ 2^PartBits values — driver-bounded
    // next band table = prior ∪ delta: a pure append (band rows are
    // immutable per vector at a shared width)
    BucketedTable.writeAppended(spark, deltaBands,
      bandsPath(priorRoot), bandsPath(nextRoot), BandScheme)
    // prior membership of touched buckets: partition-pruned read
    val bandsPrior = mat(
      BucketedTable.readParts(spark, bandsPath(priorRoot), BandsSchema,
          touchedBandPb, BandScheme)
        .join(touched, Seq("b", "key"), "left_semi"), "bandsp")

    // GROW-SPLICE classification (round 12 — the fix for "a 1%
    // increment costs a full rebuild", PERF.md): a touched bucket is
    // GROW-ONLY iff the delta cannot change any EXISTING member's
    // pairing verdict — cap side stable, and (over-cap) quantized
    // anchor width and the min-id always-anchor stable. In a
    // grow-only bucket existing members' pair sets only GAIN the
    // delta-contributed pairs, and top-16(S ∪ A) =
    // top-16(top-16(S) ∪ A), so those nodes merge their PRIOR round-0
    // edges with the new pairs instead of re-ranking the whole
    // bucket. Everything else (rule-flip buckets, brand-new buckets,
    // all delta nodes) full-ranks through navSeedPairs exactly as a
    // full build would — so the spliced round 0 is bit-identical to
    // the rebuild's (`PipelineSpec` pins both regimes).
    // Widths come from the VERSIONED stats (the `AnnIndex.ann_widths`
    // posture): prior counts are a pruned read, next counts are
    // prior + delta via one frontier-sized join — no corpus aggregate.
    val cap = Similarity.NavBucketCap
    val dCnt = deltaBands.groupBy("b", "key")
      .agg(count(lit(1)).as("dn"), min("vec_id").as("da0"))
    val priorStatsT = BucketedTable.readParts(spark, bstatsPath(priorRoot),
      BStatsSchema, touchedBandPb, BandScheme)
    val cls = mat(dCnt
      .join(priorStatsT.select(col("b"), col("key"),
        col("bn").as("bnp"), col("a0").as("a0p")), Seq("b", "key"), "left")
      .select(col("b"), col("key"), col("bnp"), col("a0p"),
        (coalesce(col("bnp"), lit(0L)) + col("dn")).as("bnn"),
        least(col("a0p"), col("da0")).as("a0n"))
      .withColumn("grow",
        col("bnp").isNotNull &&
          ((col("bnp") <= cap) === (col("bnn") <= cap)) &&
          (col("bnn") <= cap ||
            (Similarity.navPow2CeilBits(col("bnp")) === Similarity.navPow2CeilBits(col("bnn")) &&
              col("a0p") === col("a0n")))), "cls")
    // land the next width stats: touched buckets' rows replaced by
    // the merged counts, every other bucket a manifest reference
    BucketedTable.writeSpliced(spark,
      withBandPb(priorStatsT.join(touched, Seq("b", "key"), "left_anti")
        .unionByName(cls.select(col("b"), col("key"),
          col("bnn").as("bn"), col("a0n").as("a0")))),
      touchedBandPb, bstatsPath(priorRoot), bstatsPath(nextRoot), BandScheme)
    val flipB = cls.where(!col("grow")).select("b", "key")
    val growB = cls.where(col("grow")).select("b", "key", "bnn")
    // next-release members of flip buckets = prior members + delta
    // members — both already frontier-sized slices
    val flipNodes = bandsPrior.join(flipB, Seq("b", "key"))
      .select(col("vec_id").as("node"))
      .unionByName(deltaBands.join(flipB, Seq("b", "key"))
        .select(col("vec_id").as("node")))
      .distinct()
    val fullNodes = mat(
      flipNodes.unionByName(deltaIds.select(col("vec_id").as("node"))).distinct(),
      "full0")
    val growNodes = mat(
      bandsPrior.join(growB.select("b", "key"), Seq("b", "key"))
        .select(col("vec_id").as("node")).distinct()
        .join(fullNodes, Seq("node"), "left_anti"), "grow0")
    // delta-contributed nbrs per grow bucket: every delta member of a
    // ≤cap bucket; only delta ANCHORS (quantized verdict at the NEXT
    // width) of an over-cap one
    val deltaNbrs = deltaBands.join(growB, Seq("b", "key"))
      .where(col("bnn") <= cap ||
        Similarity.navAnchorPred(col("vec_id"), col("bnn")))
      .select(col("b"), col("key"), col("vec_id").as("nbr_id"))
    val growPairs = bandsPrior.join(growB.select("b", "key"), Seq("b", "key"))
      .select(col("b"), col("key"), col("vec_id").as("node"))
      .join(growNodes, Seq("node"), "left_semi")
      .join(deltaNbrs, Seq("b", "key"))
      .where(col("node") =!= col("nbr_id"))
      .select("node", "nbr_id")
    val growCand = round(spark, priorRoot, 0)
      .join(growNodes, Seq("node"), "left_semi")
      .unionByName(growPairs)
    // full-rank side: exact same per-bucket pairing verdicts as a
    // full build (widths, anchor draws — all functions of the FULL
    // next-release band table, here the LANDED one with the LANDED
    // width stats), restricted to the full-rank node side: a node's
    // pair set is a pure function of its buckets' membership, so
    // restriction commutes with generation. One narrow flat scan of
    // the landed band table — the 16 B/row nbr side of the full-rank
    // joins — is the increment's only corpus-sized read here.
    val fullCand = Similarity.navSeedPairs(bands(spark, nextRoot), Seq("b", "key"),
      Some(fullNodes), Some(bstats(spark, nextRoot)))
    val affected0 = mat(growNodes.unionByName(fullNodes).distinct(), "aff0")
    var changed = mat(splice(spark, pbm, roundPath(priorRoot, 0), roundPath(nextRoot, 0),
      affected0,
      Similarity.navTopK(spark, v, growCand.unionByName(fullCand), nNext)), "chg0")

    // ---- refinement rounds: frontier = changed endpoints + their
    // old∪new neighbors; re-rank against the full new prior-round
    // state. All adjacency work is INCIDENT-restricted
    // ([[undIncident]]) — per round the landed tables are scanned,
    // never globally symmetrized/distinct'd/windowed, so the round
    // cost is O(frontier) shuffles over O(corpus) scans.
    for (r <- 1 to Rounds) {
      val ePri  = round(spark, priorRoot, r - 1)
      val ePrev = round(spark, nextRoot, r - 1)
      val m = changed.select(col("node"))
        .unionByName(changed.select(col("nbr_id").as("node"))).distinct()
      // frontier over the UNCAPPED adjacency: a superset of capped
      // reachability, so the affected set over-approximates (sound —
      // extra nodes re-rank to identical lists and splice clean)
      val affected = mat(m.unionByName(
          undIncident(ePri, m).unionByName(undIncident(ePrev, m))
            .select(col("nbr_id").as("node")))
        .distinct(), s"aff$r")
      // candidates over the CAPPED adjacency + the prior round's
      // directed edges — byte-identical to buildState's rule
      val aAff = mat(Similarity.navExpandAdj(undIncident(ePrev, affected)), s"ucap$r")
      val mids = aAff.select(col("nbr_id").as("node")).distinct()
      val midCap = Similarity.navExpandAdj(undIncident(ePrev, mids))
      val mid = aAff.select(col("nbr_id").as("node"), col("node").as("src"))
      val hop2 = mid.join(midCap, "node")
        .select(col("src").as("node"), col("nbr_id"))
        .where(col("node") =!= col("nbr_id"))
      val prevE = ePrev.join(affected, Seq("node"), "left_semi")
      val candAff = aAff.unionByName(hop2).unionByName(prevE)
      changed = mat(splice(spark, pbm, roundPath(priorRoot, r), roundPath(nextRoot, r),
        affected, Similarity.navTopK(spark, v, candAff, nNext)), s"chg$r")
    }
    // ---- final graph: splice against the PRIOR graph. A node's
    // undirected row set changes only if a changed final-round edge
    // is incident to it (both endpoints of every changed edge are in
    // affG), so recomputing undIncident over the frontier and
    // carrying every other bucket by reference equals the full
    // symmetrize row-for-row.
    val eFin = round(spark, nextRoot, Rounds)
    val affG = mat(changed.select(col("node"))
      .unionByName(changed.select(col("nbr_id").as("node"))).distinct(), "affg")
    splice(spark, pbm, graphPath(priorRoot), graphPath(nextRoot),
      affG, undIncident(eFin, affG))
    cleanup.release()
  }

  /** Release vN → vN+1 under DELETION: retire `deleteIds` (one
    * `vec_id` column; ids absent from vN are ignored — the touched
    * buckets and frontier derive from the ids' PRIOR rows, so an
    * absent id contributes nothing) and land the reduced state
    * under `nextRoot` — the same change-frontier propagation as
    * [[incrementState]], with removals counted as changed edges:
    *
    *   - SEED: only members of buckets a deleted vector BELONGED to
    *     can see a different pairing verdict (widths shrink, a cap
    *     can flip back to all-pairs, anchor draw rates move). Re-rank
    *     exactly those against the post-delete band table; a node
    *     whose round-0 list pointed AT a deleted vector shared a
    *     bucket with it by construction, so the affected set already
    *     covers every dangling edge.
    *   - ROUND r: the deleted nodes' round-(r−1) rows enter the
    *     change set as removals (the splice drops them and they have
    *     no replacement), so their neighbors — and through the
    *     2-hop containment argument, every node whose candidate set
    *     could have contained a deleted vector — land in the frontier
    *     exactly as an eviction does on the addition path.
    *
    * Exactness: same containment argument as [[incrementState]], so
    * the spliced state equals a full [[buildState]] over the reduced
    * corpus row-for-row (`PipelineSpec` pins it). Scale: cost is the
    * delete-touched frontier, never the corpus, and only
    * frontier-touched buckets rewrite; a physical delete (not a
    * tombstone), so readers and the walk see no ghost nodes. */
  def retireState(spark: SparkSession, deleteIds: DataFrame,
      priorRoot: String, nextRoot: String): Unit = {
    require(hasBandState(spark, priorRoot),
      s"prior nav-index version at $priorRoot predates the versioned band " +
        "state (pre-round-14 layout); rebuild the navigable graph with buildState")
    val del = deleteIds.select("vec_id").distinct()
    val priorV = readVecs(spark, priorRoot)
    // vector splice: only buckets that HELD a deleted vector rewrite
    val delV = priorV.join(del, Seq("vec_id"), "left_semi")
    val delPb = withPb(delV).select("pb").distinct()
      .collect().map(_.getInt(0)).toSet
    BucketedTable.writeSpliced(spark,
      withPb(BucketedTable.readParts(spark, vecsPath(priorRoot), VecsSchema, delPb, Scheme)
        .join(del, Seq("vec_id"), "left_anti")),
      delPb, vecsPath(priorRoot), vecsPath(nextRoot), Scheme)
    val v = readVecs(spark, nextRoot)

    val iterDir = s"${graft.ops.IterState.rootFor(spark)}/navret_${java.util.UUID.randomUUID().toString.take(8)}"
    val cleanup = graft.ops.IterState.register(spark, iterDir)
    def mat(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$iterDir/$name")
      spark.read.parquet(s"$iterDir/$name")
    }

    val nPrior = priorV.count()
    val nNext = v.count()
    require(Similarity.navBitsFor(nPrior) == Similarity.navBitsFor(nNext),
      s"corpus shrink $nPrior -> $nNext crosses a seed-band width boundary; " +
        "rebuild the navigable graph with buildState")
    // the bucket map must cover DELETED nodes too (their prior rows
    // drive splices), so it derives from the PRIOR vector layout
    val pbm = mat(readVecsPbMap(spark, priorRoot), "pbm")
    // deleted nodes as a frontier seed (column `node`), and the
    // buckets they belonged to — band rows of the DELETED vectors at
    // the shared width (the retire path's only explode)
    val delNodes = mat(del.select(col("vec_id").as("node")), "delnodes")
    val delBands = mat(
      withBandPb(Similarity.navBands(delV, Similarity.navBitsFor(nNext))), "delbands")
    val touchedBuckets = delBands.select("b", "key").distinct()
    val tPbs = delBands.select("pb").distinct()
      .collect().map(_.getInt(0)).toSet // ≤ 2^PartBits values — driver-bounded
    // band-table splice: a deleted node's band rows all live in the
    // touched hash buckets (its buckets ARE the touched set), so
    // dropping them there and carrying the rest by reference equals
    // re-deriving the table over the reduced corpus
    BucketedTable.writeSpliced(spark,
      withBandPb(BucketedTable.readParts(spark, bandsPath(priorRoot), BandsSchema,
          tPbs, BandScheme)
        .join(del, Seq("vec_id"), "left_anti")),
      tPbs, bandsPath(priorRoot), bandsPath(nextRoot), BandScheme)
    // width-stats splice: recount ONLY the touched buckets from the
    // spliced band table (pruned read); an emptied bucket recounts to
    // no row, exactly as a full rebuild would derive
    val nextTouchedRows = BucketedTable.readParts(spark, bandsPath(nextRoot),
        BandsSchema, tPbs, BandScheme)
      .join(touchedBuckets, Seq("b", "key"), "left_semi")
    BucketedTable.writeSpliced(spark,
      withBandPb(BucketedTable.readParts(spark, bstatsPath(priorRoot), BStatsSchema,
          tPbs, BandScheme)
        .join(touchedBuckets, Seq("b", "key"), "left_anti")
        .unionByName(nextTouchedRows.groupBy("b", "key")
          .agg(count(lit(1)).as("bn"), min("vec_id").as("a0")))),
      tPbs, bstatsPath(priorRoot), bstatsPath(nextRoot), BandScheme)
    val affected0 = mat(
      nextTouchedRows.select(col("vec_id").as("node")).distinct(), "aff0")
    val seedCandAff = Similarity.navSeedPairs(bands(spark, nextRoot), Seq("b", "key"),
      Some(affected0), Some(bstats(spark, nextRoot)))
    var changed = mat(splice(spark, pbm, roundPath(priorRoot, 0), roundPath(nextRoot, 0),
      affected0.unionByName(delNodes).distinct(),
      Similarity.navTopK(spark, v, seedCandAff, nNext)), "chg0")

    for (r <- 1 to Rounds) {
      val ePri  = round(spark, priorRoot, r - 1)
      val ePrev = round(spark, nextRoot, r - 1)
      val m = changed.select(col("node"))
        .unionByName(changed.select(col("nbr_id").as("node"))).distinct()
      val affected = mat(m.unionByName(
          undIncident(ePri, m).unionByName(undIncident(ePrev, m))
            .select(col("nbr_id").as("node")))
        .distinct(), s"aff$r")
      val aAff = mat(Similarity.navExpandAdj(undIncident(ePrev, affected)), s"ucap$r")
      val mids = aAff.select(col("nbr_id").as("node")).distinct()
      val midCap = Similarity.navExpandAdj(undIncident(ePrev, mids))
      val mid = aAff.select(col("nbr_id").as("node"), col("node").as("src"))
      val hop2 = mid.join(midCap, "node")
        .select(col("src").as("node"), col("nbr_id"))
        .where(col("node") =!= col("nbr_id"))
      val prevE = ePrev.join(affected, Seq("node"), "left_semi")
      val candAff = aAff.unionByName(hop2).unionByName(prevE)
      // deleted nodes stay in the drop side every round: navTopK
      // re-ranks only nodes present in `v`, so they never reappear,
      // and their prior rows must not splice through
      changed = mat(splice(spark, pbm, roundPath(priorRoot, r), roundPath(nextRoot, r),
        affected.unionByName(delNodes).distinct(),
        Similarity.navTopK(spark, v, candAff, nNext)), s"chg$r")
    }
    val eFin = round(spark, nextRoot, Rounds)
    val affG = mat(changed.select(col("node"))
      .unionByName(changed.select(col("nbr_id").as("node"))).distinct(), "affg")
    splice(spark, pbm, graphPath(priorRoot), graphPath(nextRoot),
      affG, undIncident(eFin, affG))
    cleanup.release()
  }

  /** Undirected adjacency rows INCIDENT to `nodes` (column `node`):
    * navUnd(e) restricted to the set, computed WITHOUT materializing
    * the full undirected adjacency — two semi-filtered scans of the
    * landed directed table + a distinct over the frontier-sized
    * result. Restriction commutes with symmetrize+distinct, and a
    * node's [[Similarity.navExpandAdj]] cap depends only on its OWN
    * rows, so capping the restricted adjacency equals restricting the
    * capped full one. The full-adjacency forms (two O(corpus)
    * distincts + one O(corpus) window per round) were the increment's
    * cost floor at ×100 (PERF.md round 12). */
  private def undIncident(e: DataFrame, nodes: DataFrame): DataFrame = {
    val fwd = e.join(nodes, Seq("node"), "left_semi")
    val rev = e.select(col("nbr_id").as("node"), col("node").as("nbr_id"))
      .join(nodes, Seq("node"), "left_semi")
    fwd.unionByName(rev).distinct()
  }

  /** Land one spliced table version: buckets touched by `affected`
    * (column `node`) get prior-rows-minus-affected plus `recomputed`
    * (whose nodes are all in `affected` by construction) through
    * partition-level dynamic overwrite; every OTHER bucket is a
    * manifest reference to the prior version — zero read, zero
    * write. Returns the edge-level symmetric difference over the
    * affected set — the change set the next round's frontier grows
    * from — as a lazy plan (the final-graph call discards it). Both
    * diff sides are partition-pruned to the touched buckets: an
    * affected node's rows can only live there ([[pbOf]] is a pure
    * function of its immutable vector). On the retire path `affected`
    * includes the deleted nodes, whose prior rows are dropped with no
    * replacement — pure removals in the returned diff. */
  private def splice(spark: SparkSession, pbm: DataFrame,
      priorPath: String, nextPath: String,
      affected: DataFrame, recomputed: DataFrame): DataFrame = {
    val affPb = affected.join(pbm, "node").select("pb").distinct()
      .collect().map(_.getInt(0)).toSet // ≤ 2^PartBits values — driver-bounded
    val priorTouched = BucketedTable.readParts(spark, priorPath, RoundSchema, affPb, Scheme)
    val keep = priorTouched.join(affected, Seq("node"), "left_anti")
    BucketedTable.writeSpliced(spark,
      keep.unionByName(recomputed).join(pbm, "node"),
      affPb, priorPath, nextPath, Scheme)
    val oldAff = priorTouched.join(affected, Seq("node"), "left_semi")
    val newAff = BucketedTable.readParts(spark, nextPath, RoundSchema, affPb, Scheme)
      .join(affected, Seq("node"), "left_semi")
    oldAff.exceptAll(newAff).unionByName(newAff.exceptAll(oldAff))
  }
}
