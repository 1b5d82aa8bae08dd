package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{BucketedTable, Writers}
import graft.ops.Similarity

/** Incrementally-maintained ANN index — the embedding-side analog of
  * `Curation`'s dedup state chain: corpus release vN lands an index
  * (cell-bucketed vectors + the derived kNN graph), and release vN+1
  * costs the DELTA, not a from-scratch rebuild of the per-cell
  * self-join over the whole corpus.
  *
  * State per release root:
  *   - `ann_widths`: per-label corpus counts — the input to the IVF
  *     re-tune ladder (`Similarity.bitsFor`); O(#labels), landed
  *     whole (`Writers.truncateLoad`);
  *   - `ann_cells`:  (vec_id, label, cell, v, norm) — the bucketed
  *     vectors, i.e. the index payload an IVF index stores per list;
  *   - `ann_graph`:  (vec_id, nbr_id, cos, rank) — the top-3 kNN
  *     edges every downstream graph pass (pagerank/labelProp/
  *     triangles/classify) consumes.
  *
  * The increment re-pairs ONLY touched cells: cells that receive a
  * delta vector, plus every cell of a label whose width crossed a
  * split tier (those labels re-cell wholly — the same widths would
  * re-derive in a full build, so cell ids must follow). Untouched
  * cells keep their prior edges verbatim; `pairCells` is
  * deterministic given membership, so the spliced graph is
  * row-identical to a full rebuild over vN ∪ delta
  * (`PipelineSpec` proves it, including across a tier crossing).
  *
  * STORAGE (the `NavIndex` discipline): `ann_cells` and
  * `ann_graph` are [[graft.io.BucketedTable]]s keyed by
  * hash(label) mod 2^[[PartBits]] — the LABEL is the touch grain
  * (touched cells belong to delta/re-celled labels by construction),
  * so an increment physically rewrites only the buckets of labels
  * the delta touched and carries every other bucket by manifest
  * reference. Before, both tables were truncate-loaded whole per
  * release, which put a corpus-sized write I/O floor (the 512 B/row
  * vector payload!) under every increment no matter how small the
  * delta.
  *
  * Scale (100 TB): the touched-cell set is delta-proportional
  * (bounded by |delta| + members of tier-crossing labels — and a tier
  * crossing is itself amortized-rare: widths grow 8× between rungs).
  * The probe joins are hash equi-joins on cell against a broadcast of
  * the touched-cell ids; prior state is read partition-pruned to the
  * touched buckets, never recomputed — and untouched buckets are
  * neither read nor rewritten.
  */
object AnnIndex extends graft.streaming.MaintainedIndex {

  def widthsPath(root: String): String = s"$root/ann_widths"
  def cellsPath(root: String): String  = s"$root/ann_cells"
  def graphPath(root: String): String  = s"$root/ann_graph"

  private[graft] val CellsSchema =
    "vec_id BIGINT, label BIGINT, cell STRING, v ARRAY<DOUBLE>, norm DOUBLE"
  private[graft] val GraphSchema =
    "vec_id BIGINT, nbr_id BIGINT, cos DOUBLE, rank BIGINT"

  /** Bucket-key width: 2^6 = 64 label-hash buckets. Hash (not
    * locality) is right HERE: the touch grain is whole labels, a
    * bounded set per delta, and cells of one label always share a
    * bucket — no frontier smearing to avoid. */
  private[graft] val PartBits = 6

  /** Bucket-scheme id stamped into every ann-state manifest:
    * hash(label) over [[PartBits]] bits. */
  private[graft] val Scheme = s"labelhash/$PartBits"

  private def pbOf(label: Column): Column =
    pmod(hash(label), lit(1 << PartBits))

  protected def tables(spark: SparkSession, root: String): Seq[(String, String, String)] =
    Seq((cellsPath(root), CellsSchema, Scheme), (graphPath(root), GraphSchema, Scheme))

  /** Every landing writes widths → cells → graph, so the graph
    * manifest is the version's last write. */
  def isCommitted(spark: SparkSession, root: String): Boolean =
    tables(spark, root).forall { case (p, _, _) => BucketedTable.isCommitted(spark, p) }

  /** Delta-distinct-labels / prior-labels fraction above which a
    * batch routes to the warm rebuild. A localized domain drop sits
    * far under 0.5 and a uniform re-embedding sweep estimates ≈ 1.0:
    * separated regimes, not a tuned edge. */
  private val RebuildLabelFrac = 0.5

  /** The streaming route. The increment's touch grain is whole
    * labels: a label-uniform delta touches every cell and re-pairs
    * everything a rebuild would, plus splice overhead, so it
    * rebuilds. `pairCells` is deterministic given membership, so
    * routing changes cost, never content. */
  def advance(spark: SparkSession, batch: DataFrame,
      priorRoot: String, nextRoot: String): String = {
    val dLabels = batch.select(col("label").cast("bigint")).distinct().count()
    val pLabels = spark.read.parquet(widthsPath(priorRoot)).count()
    if (pLabels > 0 && dLabels.toDouble / pLabels > RebuildLabelFrac) {
      rebuildState(spark, batch, priorRoot, nextRoot); "rebuild(labels)"
    } else {
      incrementState(spark, batch, priorRoot, nextRoot); "increment"
    }
  }

  /** Committed-version readers (see `NavIndex` — raw parquet reads
    * cannot see an incremented version's referenced buckets). */
  def cells(spark: SparkSession, root: String): DataFrame =
    BucketedTable.read(spark, cellsPath(root), CellsSchema)

  /** The landed kNN graph, ordered like `Similarity.knnGraph` — what
    * downstream graph passes read. */
  def graph(spark: SparkSession, root: String): DataFrame =
    graphUnordered(spark, root).orderBy("vec_id", "rank")

  private def graphUnordered(spark: SparkSession, root: String): DataFrame =
    BucketedTable.read(spark, graphPath(root), GraphSchema)

  /** Embeddings → (vec_id, label BIGINT, v, norm): the label is
    * normalized to a stable type because it keys the bucketed state
    * tables' declared schema. */
  private def vecsNorm(spark: SparkSession, emb: DataFrame): DataFrame =
    Similarity.vecsOf(spark, emb).withColumn("label", col("label").cast("bigint"))

  /** The vN full build: assign cells from corpus-wide label widths,
    * land the three state tables. `emb` is an embeddings-format table
    * (vec_id, embedding, label). */
  def buildState(spark: SparkSession, emb: DataFrame, root: String): Unit =
    buildFromVecs(spark, vecsNorm(spark, emb), root)

  /** WARM full rebuild: vN+1 = full build over the PRIOR version's
    * landed vectors ∪ `deltaEmb`, with the delta REPLACING prior rows
    * that share a vec_id (anti-join on the delta's ids) — the
    * streaming maintainer's routing escape hatch (a label-uniform
    * delta touches every cell, so the increment machinery re-pairs
    * everything anyway and the rebuild is the honest plan, see
    * [[advance]]). Replace-not-union
    * matters precisely for the delta shape that routes here: a
    * uniform RE-EMBEDDING sweep re-submits existing ids with new
    * vectors, and a plain union would silently index both the stale
    * and the fresh embedding of every document. For id-disjoint
    * deltas the anti-join drops nothing and the result is unchanged
    * (row-identical to incrementState — `pairCells` is deterministic
    * given membership). Lands an ANCHOR (full writes reference
    * nothing), re-opening retention below it. */
  def rebuildState(spark: SparkSession, deltaEmb: DataFrame,
      priorRoot: String, nextRoot: String): Unit = {
    val dv = vecsNorm(spark, deltaEmb)
    buildFromVecs(spark,
      cells(spark, priorRoot).select("vec_id", "label", "v", "norm")
        .join(dv.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(dv),
      nextRoot)
  }

  private def buildFromVecs(spark: SparkSession, v0: DataFrame, root: String): Unit = {
    Writers.truncateLoad(
      v0.groupBy("label").agg(count(lit(1)).as("cn")), widthsPath(root))
    val widths = spark.read.parquet(widthsPath(root))
    BucketedTable.write(
      Similarity.assignCells(v0, widths)
        .select("vec_id", "label", "cell", "v", "norm")
        .withColumn("pb", pbOf(col("label"))),
      cellsPath(root), Scheme)
    val cs = cells(spark, root).persist()
    cs.count() // materialize before both self-join sides fan out
    BucketedTable.write(
      Similarity.pairCells(spark, cs)
        .join(cs.select(col("vec_id"), pbOf(col("label")).as("pb")), "vec_id"),
      graphPath(root), Scheme)
    cs.unpersist()
  }

  /** Release vN → vN+1: absorb `deltaEmb` (new vectors only; ids must
    * be disjoint from vN) against the state under `priorRoot`, land
    * the refreshed state under `nextRoot`. Only touched cells
    * re-pair, and only touched-label BUCKETS rewrite — everything
    * else is carried forward by manifest reference. */
  def incrementState(spark: SparkSession, deltaEmb: DataFrame,
      priorRoot: String, nextRoot: String): Unit = {
    val priorW = spark.read.parquet(widthsPath(priorRoot))
    val dv = vecsNorm(spark, deltaEmb)

    // vN+1 label widths = vN widths + delta counts (full outer: a
    // delta-only label is new, a delta-free label keeps its width)
    val nextW = priorW.select(col("label"), col("cn").as("old_cn"))
      .join(dv.groupBy("label").agg(count(lit(1)).as("dcn")), Seq("label"), "full")
      .select(col("label"),
        (coalesce(col("old_cn"), lit(0L)) + coalesce(col("dcn"), lit(0L))).as("cn"),
        coalesce(col("old_cn"), lit(0L)).as("old_cn"))
    Writers.truncateLoad(nextW.select("label", "cn"), widthsPath(nextRoot))
    val widths = spark.read.parquet(widthsPath(nextRoot))

    // a label whose width crossed a split tier re-cells wholly (its
    // members' cell ids change in a full build, so they change here)
    val rebuildLabels = nextW
      .where(Similarity.bitsFor(col("cn")) =!= Similarity.bitsFor(col("old_cn")))
      .select("label")
    // touched buckets = buckets of delta labels + re-celled labels —
    // a bounded label set per delta, collected bucket-grain only
    val touchedPb = dv.select("label").unionByName(rebuildLabels)
      .select(pbOf(col("label")).as("pb")).distinct()
      .collect().map(_.getInt(0)).toSet // ≤ 2^PartBits values
    val priorCT = BucketedTable.readParts(spark, cellsPath(priorRoot),
      CellsSchema, touchedPb, Scheme)
    // re-select the canonical column order: the label-keyed join moves
    // the key first, and state tables must keep a stable schema
    val keepPriorT = priorCT.join(broadcast(rebuildLabels), Seq("label"), "left_anti")
      .select("vec_id", "label", "cell", "v", "norm")
    val reassign = priorCT.join(broadcast(rebuildLabels), Seq("label"), "left_semi")
      .select("vec_id", "label", "v", "norm")
      .unionByName(dv.select("vec_id", "label", "v", "norm"))
    val assigned = Similarity.assignCells(reassign, widths)
      .select("vec_id", "label", "cell", "v", "norm")
    BucketedTable.writeSpliced(spark,
      keepPriorT.unionByName(assigned).withColumn("pb", pbOf(col("label"))),
      touchedPb, cellsPath(priorRoot), cellsPath(nextRoot), Scheme)

    // touched cells = cells holding any newly-(re)assigned member;
    // delta-proportional, so they broadcast. All their members live
    // in touched buckets, so the scan is partition-pruned.
    val cellsT = BucketedTable.readParts(spark, cellsPath(nextRoot),
      CellsSchema, touchedPb, Scheme).persist()
    cellsT.count() // materialize before both self-join sides fan out
    val touched = assigned.select("cell").distinct()
    val touchedMembers = cellsT.join(broadcast(touched), "cell").persist()
    touchedMembers.count() // materialize before both self-join sides fan out
    val rebuiltEdges = Similarity.pairCells(spark, touchedMembers)
    val keptOwnersT = keepPriorT.select("vec_id", "cell")
      .join(broadcast(touched), Seq("cell"), "left_anti")
      .select("vec_id")
    val keptEdgesT = BucketedTable.readParts(spark, graphPath(priorRoot),
        GraphSchema, touchedPb, Scheme)
      .join(keptOwnersT, "vec_id")
      .select("vec_id", "nbr_id", "cos", "rank")
    BucketedTable.writeSpliced(spark,
      keptEdgesT.unionByName(rebuiltEdges)
        .join(cellsT.select(col("vec_id"), pbOf(col("label")).as("pb")), "vec_id"),
      touchedPb, graphPath(priorRoot), graphPath(nextRoot), Scheme)
    touchedMembers.unpersist(); cellsT.unpersist()
  }
}
