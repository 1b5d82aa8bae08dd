package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{BucketedTable, Writers}
import graft.ops.Similarity

/** Incrementally-maintained PQ index — the quantized serving tier
  * (DiskANN's memory posture: 16-byte codes + a 1 KB codebook serve
  * navigation; exact vectors stream only for the final rerank) given
  * the same versioned-chain lifecycle as the nav and ann indexes.
  *
  * The operational asymmetry PQ adds over those chains: the CODEBOOK
  * is trained (k-means over subspaces), so an increment must NOT
  * retrain it — re-quantizing the whole corpus against a shifted
  * codebook is a rebuild by definition. Encoding, however, is a
  * per-row pure function of (vector, codebook), so under a FROZEN
  * codebook a delta encodes independently and splices exactly:
  * increment cost is |delta|, and the spliced codes are bit-identical
  * to re-encoding the union against the same codebook
  * (`PqIndexSpec` proves it).
  *
  * What guards codebook staleness: every landing records the mean
  * squared reconstruction error of ITS OWN rows under the codebook
  * it landed with (`pq_stats`). The maintainer routes a delta whose
  * error exceeds 1.5 × ([[RebuildErrFactor]]) the
  * training-time baseline to [[rebuildState]] — retrain + re-encode,
  * landing an ANCHOR — because high delta error means the frozen
  * centroids no longer cover the incoming distribution (the ADC
  * distance the walk ranks by degrades exactly as that error grows).
  *
  * State per version root:
  *   - `pq_codebook`: (sub, cid, pos, cx) — 32 subspaces × k=16 ×
  *     2 dims (the SEARCH config `sim_pq_search` serves), ~1 K rows,
  *     landed whole;
  *   - `pq_stats`: (n, base_err) — corpus size + the codebook's
  *     training-time mean squared recon error (the drift baseline;
  *     carried unchanged through increments, reset by rebuilds);
  *   - `pq_vecs`:  (vec_id, v, norm) — the exact vectors the rerank
  *     tier reads, hash(vec_id)-bucketed;
  *   - `pq_codes`: (vec_id, cids) — the packed 32-word codes,
  *     same buckets.
  *
  * Touch grain is the ROW (encoding has no cross-row coupling), so
  * the bucket key is hash(vec_id): an id-disjoint delta lands by
  * APPEND (zero prior-table I/O — `BucketedTable.writeAppended`); a
  * delta that re-submits known ids (re-embedding) lands by
  * bucket-grain SPLICE with the stale rows anti-joined away. Both
  * are exact; the append path is why per-release maintenance cost is
  * delta-proportional at 100 TB.
  *
  * Reference for the PQ/ADC construction: Jégou et al., "Product
  * Quantization for Nearest Neighbor Search" (TPAMI 2011); the
  * rerank split mirrors Subramanya et al., "DiskANN" (NeurIPS 2019).
  */
object PqIndex extends graft.streaming.MaintainedIndex {

  def codebookPath(root: String): String = s"$root/pq_codebook"
  def statsPath(root: String): String    = s"$root/pq_stats"
  def vecsPath(root: String): String     = s"$root/pq_vecs"
  def codesPath(root: String): String    = s"$root/pq_codes"

  private[graft] val VecsSchema =
    "vec_id BIGINT, v ARRAY<DOUBLE>, norm DOUBLE"
  private[graft] val CodesSchema =
    "vec_id BIGINT, cids ARRAY<BIGINT>"

  /** 2^6 = 64 id-hash buckets — the row-grain analog of
    * `AnnIndex.PartBits` (no locality to preserve: any delta's ids
    * hash uniformly, and pruned reads are by bucket membership of
    * the delta's own ids). */
  private[graft] val PartBits = 6
  private[graft] val Scheme = s"idhash/$PartBits"

  /** The search-tier PQ geometry (the one `sim_pq_search` serves):
    * 32 subspaces × 2 dims, k = 16 — 16 bytes/vector. */
  private[graft] val SubDim = 2
  private[graft] val K = 16

  private def pbOf(id: Column): Column = pmod(hash(id), lit(1 << PartBits))

  protected def tables(spark: SparkSession, root: String): Seq[(String, String, String)] =
    Seq((vecsPath(root), VecsSchema, Scheme), (codesPath(root), CodesSchema, Scheme))

  /** Every landing writes codebook → stats → vecs → codes, so the
    * codes manifest is the version's last write. */
  def isCommitted(spark: SparkSession, root: String): Boolean =
    tables(spark, root).forall { case (p, _, _) => BucketedTable.isCommitted(spark, p) }

  /** Delta recon error, as a multiple of the codebook's baseline,
    * above which a batch routes to the rebuild path. */
  private val RebuildErrFactor = 1.5

  /** The streaming route: the delta's mean squared recon error under
    * the prior codebook against the baseline recorded at training
    * time. Within [[RebuildErrFactor]] × baseline the frozen codebook
    * still covers the incoming distribution and the delta is encoded
    * alone; above it the centroids have drifted off the data and the
    * index retrains, landing an anchor and a fresh baseline. */
  def advance(spark: SparkSession, batch: DataFrame,
      priorRoot: String, nextRoot: String): String = {
    val dv = Similarity.vecsOf(spark, batch).select("vec_id", "v", "norm")
    val dErr = reconErr(spark, dv, codebook(spark, priorRoot))
    val base = stats(spark, priorRoot).collect()(0).getAs[Double]("base_err")
    if (base > 0 && dErr > RebuildErrFactor * base) {
      rebuildState(spark, batch, priorRoot, nextRoot); "rebuild(err)"
    } else {
      incrementState(spark, batch, priorRoot, nextRoot); "increment"
    }
  }

  def codebook(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(codebookPath(root))

  /** (n, base_err) — the drift baseline the maintainer routes on. */
  def stats(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(statsPath(root))

  def vecs(spark: SparkSession, root: String): DataFrame =
    BucketedTable.read(spark, vecsPath(root), VecsSchema)

  def codes(spark: SparkSession, root: String): DataFrame =
    BucketedTable.read(spark, codesPath(root), CodesSchema)

  private def vecsOf(spark: SparkSession, emb: DataFrame): DataFrame =
    Similarity.vecsOf(spark, emb).select("vec_id", "v", "norm")

  private def explodeOf(v: DataFrame): DataFrame =
    Similarity.pqExplodeOf(
      v.select(col("vec_id"), col("v").as("embedding")), SubDim)

  /** Mean squared recon error of `v`'s rows under `cb` — one
    * assignment pass + one aggregate; 6-dp-rounded so the routing
    * threshold compares the same number in any engine. */
  private[graft] def reconErr(spark: SparkSession, v: DataFrame,
      cb: DataFrame): Double = {
    val e = explodeOf(v)
    val perVec = Similarity.pqAssign(e, cb)
      .join(e, Seq("vec_id", "sub"))
      .join(cb, Seq("sub", "cid", "pos"))
      .groupBy("vec_id")
      .agg(sum((col("x") - col("cx")) * (col("x") - col("cx"))).as("se"))
    val r = perVec.agg(round(avg(col("se")), 6)).collect()(0)
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** The v0 full build: train the codebook on `emb`, encode
    * everything, land codebook → stats → vecs → codes. */
  def buildState(spark: SparkSession, emb: DataFrame, root: String): Unit =
    buildFromVecs(spark, vecsOf(spark, emb), root)

  private def buildFromVecs(spark: SparkSession, v0in: DataFrame, root: String): Unit = {
    val v0 = v0in.persist()
    val n = v0.count() // materialize: train + encode + err all scan it
    val (cb0, release) = Similarity.pqTrainOf(
      v0.select(col("vec_id"), col("v").as("embedding")), SubDim, K)
    Writers.truncateLoad(cb0, codebookPath(root))
    val cb = codebook(spark, root)
    Writers.truncateLoad(
      spark.range(1).select(lit(n).as("n"),
        lit(reconErr(spark, v0, cb)).as("base_err")),
      statsPath(root))
    BucketedTable.write(v0.withColumn("pb", pbOf(col("vec_id"))),
      vecsPath(root), Scheme)
    BucketedTable.write(
      Similarity.pqEncodePacked(explodeOf(v0), cb)
        .withColumn("pb", pbOf(col("vec_id"))),
      codesPath(root), Scheme)
    release(); v0.unpersist()
  }

  /** WARM full rebuild (the drift escape hatch): retrain on the prior
    * corpus with `deltaEmb` REPLACING prior rows that share a vec_id,
    * re-encode everything — lands an ANCHOR and a fresh drift
    * baseline. */
  def rebuildState(spark: SparkSession, deltaEmb: DataFrame,
      priorRoot: String, nextRoot: String): Unit = {
    val dv = vecsOf(spark, deltaEmb)
    buildFromVecs(spark,
      vecs(spark, priorRoot)
        .join(dv.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(dv),
      nextRoot)
  }

  /** Release vN → vN+1 under the FROZEN codebook: encode only the
    * delta; id-disjoint rows APPEND (zero prior-table I/O), deltas
    * that re-submit known ids SPLICE their id-hash buckets with the
    * stale rows dropped. Codebook and drift baseline carry forward
    * verbatim; only `n` in the stats row advances. */
  def incrementState(spark: SparkSession, deltaEmb: DataFrame,
      priorRoot: String, nextRoot: String): Unit = {
    val dv = vecsOf(spark, deltaEmb).persist()
    dv.count()
    val cbPrior = codebook(spark, priorRoot)
    Writers.truncateLoad(cbPrior, codebookPath(nextRoot))
    val cb = codebook(spark, nextRoot)
    val st = stats(spark, priorRoot).collect()(0)
    val dCodes = Similarity.pqEncodePacked(explodeOf(dv), cb)

    val touchedPb = dv.select(pbOf(col("vec_id")).as("pb")).distinct()
      .collect().map(_.getInt(0)).toSet // ≤ 2^PartBits values
    val priorVT = BucketedTable.readParts(spark, vecsPath(priorRoot),
      VecsSchema, touchedPb, Scheme)
    val nReplaced = priorVT
      .join(dv.select("vec_id"), Seq("vec_id"), "left_semi").count()
    Writers.truncateLoad(
      spark.range(1).select(
        lit(st.getAs[Long]("n") + dv.count() - nReplaced).as("n"),
        lit(st.getAs[Double]("base_err")).as("base_err")),
      statsPath(nextRoot))

    if (nReplaced == 0L) {
      BucketedTable.writeAppended(spark,
        dv.withColumn("pb", pbOf(col("vec_id"))),
        vecsPath(priorRoot), vecsPath(nextRoot), Scheme)
      BucketedTable.writeAppended(spark,
        dCodes.withColumn("pb", pbOf(col("vec_id"))),
        codesPath(priorRoot), codesPath(nextRoot), Scheme)
    } else {
      val keptV = priorVT.join(dv.select("vec_id"), Seq("vec_id"), "left_anti")
        .select("vec_id", "v", "norm")
      BucketedTable.writeSpliced(spark,
        keptV.unionByName(dv).withColumn("pb", pbOf(col("vec_id"))),
        touchedPb, vecsPath(priorRoot), vecsPath(nextRoot), Scheme)
      val keptC = BucketedTable.readParts(spark, codesPath(priorRoot),
          CodesSchema, touchedPb, Scheme)
        .join(dv.select("vec_id"), Seq("vec_id"), "left_anti")
        .select("vec_id", "cids")
      BucketedTable.writeSpliced(spark,
        keptC.unionByName(dCodes).withColumn("pb", pbOf(col("vec_id"))),
        touchedPb, codesPath(priorRoot), codesPath(nextRoot), Scheme)
    }
    dv.unpersist()
  }

  /** Serving read over a landed version: full ADC scan (per-query
    * 32×16 distance table, code-lookup sums in exact DECIMAL) top-32
    * overfetch + exact-cosine rerank to top-3 from `pq_vecs` — the
    * flat-scan twin of `Similarity.pqSearch`'s graph walk, for
    * corpora/shards where a scan of 16-byte codes beats maintaining
    * a graph. `queries` is embeddings-format.
    * Output: qid, nbr_id, cos, rank. */
  def adcSearch(spark: SparkSession, root: String, queries: DataFrame): DataFrame = {
    val cb = codebook(spark, root)
    val qv = Similarity.vecsOf(spark, queries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val qe = Similarity.pqExplodeOf(queries, SubDim)
      .select(col("vec_id").as("qid"), col("sub"), col("pos"), col("x").as("qx"))
    val dt = qe.join(cb, Seq("sub", "pos"))
      .groupBy("qid", "sub", "cid")
      .agg(round(sum((col("qx") - col("cx")) * (col("qx") - col("cx"))), 6).as("d"))
    val dtm = dt.groupBy("qid")
      .agg(map_from_entries(collect_list(struct(
        (col("sub") * K + col("cid")).cast("int"), col("d")))).as("dm"))
    val nSubs = 64 / SubDim
    val adc = aggregate(
      sequence(lit(0), lit(nSubs - 1)),
      lit(0).cast("decimal(18,6)"),
      (acc, s) => (acc + element_at(col("dm"),
        (s * K + element_at(col("cids"), s + 1)).cast("int"))
        .cast("decimal(18,6)")).cast("decimal(18,6)"))
      .cast("double")
    val wA = Window.partitionBy("qid").orderBy(col("adist"), col("node"))
    val cand = codes(spark, root)
      .select(col("vec_id").as("node"), col("cids"))
      .crossJoin(broadcast(dtm))
      .where(col("node") =!= col("qid"))
      .withColumn("adist", adc)
      .withColumn("rn", row_number().over(wA))
      .where(col("rn") <= 32)
      .select("qid", "node")
    def d(a: Column, b: Column) = graft.functions.VectorFunctions.dot(spark, a, b)
    val wX = Window.partitionBy("qid").orderBy(col("cos").desc, col("node"))
    cand
      .join(vecs(spark, root).select(col("vec_id").as("node"),
        col("v").as("nv"), col("norm").as("nnorm")), "node")
      .join(broadcast(qv), "qid")
      .withColumn("cos", round(d(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")), 6))
      .withColumn("rank", row_number().over(wX))
      .where(col("rank") <= 3)
      .select(col("qid"), col("node").as("nbr_id"),
        col("cos"), col("rank").cast("bigint").as("rank"))
  }
}
