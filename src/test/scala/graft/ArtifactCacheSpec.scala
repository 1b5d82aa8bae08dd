package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Pins the artifact layer 20+ queries now read through: build-once
  * memoization and content-fingerprint
  * invalidation (an in-place data change must NOT serve a stale
  * artifact). */
class ArtifactCacheSpec extends SparkSpec {

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft_artifact_spec").toString
    Files.write(Paths.get(d, "data.txt"), "v1".getBytes)
    d
  }

  test("same (kind, dir, content) builds once; distinct dirs build separately") {
    val d1 = freshDir(); val d2 = freshDir()
    var builds = 0
    def build() = { builds += 1; spark.range(3).toDF("n") }
    val a = ArtifactCache.table(spark, "spec_memo", d1)(build())
    val b = ArtifactCache.table(spark, "spec_memo", d1)(build())
    assert(builds === 1)
    assert(a.collect().map(_.getLong(0)).sorted === b.collect().map(_.getLong(0)).sorted)
    ArtifactCache.table(spark, "spec_memo", d2)(build())
    assert(builds === 2)
  }

  test("an in-place content change is a new key, not a stale artifact") {
    val d = freshDir()
    var marker = 0L
    def build() = spark.range(1).select(lit(marker).as("m"))
    marker = 1L
    assert(ArtifactCache.table(spark, "spec_fp", d)(build())
      .collect().head.getLong(0) === 1L)
    // regenerate the dir's data in place (length changes => new
    // fingerprint even on coarse mtime filesystems)
    Files.write(Paths.get(d, "data.txt"), "v2-longer".getBytes)
    marker = 2L
    assert(ArtifactCache.table(spark, "spec_fp", d)(build())
      .collect().head.getLong(0) === 2L)
  }

  test("tableReleasable runs the release handle exactly once, after the write") {
    val d = freshDir()
    var released = 0
    val out = ArtifactCache.tableReleasable(spark, "spec_rel", d)(
      (spark.range(4).toDF("n"), () => released += 1))
    assert(out.count() === 4)
    assert(released === 1)
    ArtifactCache.tableReleasable(spark, "spec_rel", d)(
      (spark.range(4).toDF("n"), () => released += 1))
    assert(released === 1) // memo hit: no rebuild, no second release
  }
}
