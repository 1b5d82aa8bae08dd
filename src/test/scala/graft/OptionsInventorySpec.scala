package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Locks the program's configuration surface: the exact `graft.*`
  * conf keys and environment variables `src/main` reads. A new option
  * fails the suite until the change adds it here, visibly, with the
  * reason it cannot be a constant (the `PlanAuditSpec` inventory
  * posture, applied to knobs). Scans the sources, so an option read
  * only on a rarely-run path is still counted. */
class OptionsInventorySpec extends AnyFunSuite {

  /** Every conf key the program reads, with what it is for. */
  private val confKeys = Map(
    "graft.bpe.deepMergesExportDir" -> "deep BPE merge export root (engine and oracle glob)",
    "graft.bpe.driverVocabMax" -> "BPE trainer driver-tier vocabulary threshold",
    "graft.chain.autoCompactVersions" -> "version-chain auto-compaction trigger",
    "graft.cluster.collectEdgesMax" -> "dedup component loop driver-tier edge threshold",
    "graft.cluster.iterDir" -> "iteration storage root (set by perfbench)",
    "graft.curation.compactMaxDirs" -> "curation mapping compaction trigger",
    "graft.filtered.strategy" -> "filtered-search strategy override (exact|harvest|inwalk)",
    "graft.graph.collectEdgesMax" -> "graph family driver-tier edge threshold (test seam)",
    "graft.nav.broadcastVecsMax" -> "navigable-graph broadcast tier threshold",
    "graft.nav.compactMaxDirs" -> "nav index compaction trigger",
    "graft.vacuum.objectStoreSweep" -> "opt-in orphan sweep on object stores",
    "graft.vacuum.orphanMinAgeMs" -> "orphan sweep minimum age")

  private val envVars = Set("SPARK_GRAFT_CPUS")

  private def mainSources: Seq[String] = {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"sources not found under $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => Files.readString(p))
    finally walk.close()
  }

  test("graft.* conf keys read by src/main match the inventory") {
    val key = "\"(graft\\.[A-Za-z0-9_.]+)\"".r
    val found = mainSources.flatMap(src => key.findAllMatchIn(src).map(_.group(1))).toSet
    assert(found === confKeys.keySet)
    assert(found.size === 12)
  }

  test("environment variables read by src/main match the inventory") {
    val read = "sys\\.env|System\\.getenv".r
    val named = "(?:sys\\.env[.a-zA-Z]*|System\\.getenv)\\(\\s*\"([A-Za-z0-9_]+)\"".r
    val srcs = mainSources
    val found = srcs.flatMap(src => named.findAllMatchIn(src).map(_.group(1))).toSet
    assert(found === envVars)
    // every env read names its variable literally, so the scan is complete
    assert(srcs.map(read.findAllMatchIn(_).size).sum ===
      srcs.map(named.findAllMatchIn(_).size).sum)
  }
}
