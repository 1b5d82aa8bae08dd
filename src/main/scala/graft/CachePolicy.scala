package graft

/** THE cache-release convention for intra-query `persist()` sites —
  * every such site in `graft.ops` follows this contract; site comments
  * point here instead of restating it.
  *
  * WHY the caches exist: many operators persist an intermediate that
  * several subplans of the SAME returned DataFrame consume, and
  * materialize it (`count()`) before the fan-out — `persist()` alone
  * is lazy, and sibling stages race-recompute an unmaterialized
  * cached subtree instead of waiting on it (measured, PERF.md round
  * 2: `dedup_jaccard` 14.3 → 2.9 s).
  *
  * WHO releases them: the returned plan still READS those caches
  * lazily, and the driver contract fixes every query signature to
  * `(SparkSession, String) => DataFrame` — so the operator cannot
  * know when its caches become releasable. Release belongs to the
  * RUNNER:
  *
  *   - `Verify` clears the cache between queries, the perfbench
  *     harness between ops, and the test base (`SparkSpec.afterEach`)
  *     between tests — `spark.catalog.clearCache()` in all three.
  *   - A long-lived session (Thrift server, notebook) embedding these
  *     queries must uphold the same hygiene after consuming each
  *     result, or executor cache accumulates until eviction pressure.
  *
  * EXCEPTIONS — release inline or by handle, never by convention:
  *
  *   - A cache the returned plan does NOT read is dropped at the
  *     operator (`Similarity.pagerank` unpersists edges/deg/nodes
  *     after the final parquet round; the cluster loop drops
  *     superseded round files eagerly).
  *   - Composing seams expose explicit handles so pipelines reclaim
  *     eagerly instead of waiting for JVM exit:
  *     `Dedup.clustersFromPairsReleasable` / `IncrementalState
  *     .release` (iteration storage), `Similarity.knnGraphReleasable`
  *     (the cell cache).
  */
object CachePolicy
