package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver test layout (TESTDATA.md).
  *
  * Each driver table is a single parquet file `dir/name.parquet`. At
  * production scale the same call reads a partitioned directory tree
  * (e.g. `orders/date=2024-01-01/part-0.parquet`) and Catalyst partition-prunes
  * on the `date`/`name` predicates the downstream operators push; none
  * of the operator code needs to change.
  */
object Tables {
  // Process-level parquet-schema memo keyed by (path, mtime, length):
  // every `spark.read.parquet` call re-infers the schema with a
  // driver-side footer read, and the bench/verify mains load the same
  // handful of tables thousands of times — passing the cached schema
  // skips the footer round trip (and at 100 TB, a declared schema
  // also skips the footer-sampling pass over many files, the same
  // argument as BucketedTable's explicit-schema readers). The
  // mtime/length key drops the memo when a tool regenerates a corpus
  // file in place. ONE entry per path, replaced when the (len, mtime)
  // stamp changes — keying the map by the stamp itself would grow an
  // entry per regeneration and never evict the stale ones (a scale
  // tool regenerating a corpus hundreds of times would leak a schema
  // per lap).
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** The session's configured shuffle parallelism — the explicit
    * partition count for keyed repartitions ahead of heavy map-side
    * derivations (explodes, per-token hashing, HOF loops) over the
    * single-row-group driver tables. Explicit-N is deliberate: AQE
    * sizes its coalesce from the PRE-derivation map bytes (a few MB of
    * text) and folds the fan-out back into 1-2 tasks, serializing the
    * expensive stage. Conf-driven, so a production deployment scales
    * it with the cluster instead of inheriting a local constant. */
  private[graft] def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val stamp = s"${st.getLen}:${st.getModificationTime}"
    val schema = schemaCache.compute(path, (_, cached) =>
      if (cached != null && cached._1 == stamp) cached
      else (stamp, spark.read.parquet(path).schema))._2
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` as session-TZ TimestampType. The read leaves the
    * caller's session confs untouched: every shipped input encodes
    * `ts` as TIMESTAMP(MICROS), and a plain INT64 nanosecond count
    * reads as a long without any legacy parquet conf. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(load(s, d, "events"))

  /** Normalize an events frame's `ts` to session-TZ TimestampType,
    * whatever the physical parquet encoding produced. Longs are
    * nanoseconds and get the nanos→micros truncation (the same
    * truncation DuckDB applies coercing nanos to its micros
    * TIMESTAMP); native timestamps are cast to the session-TZ
    * timestamp (UTC is pinned, so NTZ and session-TZ values
    * coincide). */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
