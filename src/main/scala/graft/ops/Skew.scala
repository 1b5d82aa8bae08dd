package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers for hot-key joins at scale.
  *
  * AQE's skew-join splitting handles most cases at runtime; explicit
  * salting remains the tool when one side must pre-aggregate under a
  * skewed key or when a deterministic layout is needed (e.g. writing
  * bucketed output). Pattern: fan the skewed (large) side out over
  * `buckets` pseudo-keys derived from a stable hash of the row, and
  * replicate the small side once per bucket.
  */
object Skew {

  /** Equi-join `large ⋈ small` on `key`, with the large side salted
    * into `buckets` sub-keys and the small side replicated per bucket.
    * Semantics identical to `large.join(small, key)` for 1:N joins
    * (small side unique per key). */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String, buckets: Int): DataFrame = {
    val salted = large.withColumn("_salt", pmod(xxhash64(monotonically_increasing_id()), lit(buckets)))
    val replicated = small
      .withColumn("_salt", explode(sequence(lit(0), lit(buckets - 1))))
      .withColumn("_salt", col("_salt").cast("long"))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
