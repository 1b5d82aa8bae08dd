package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Locks the program's configuration surface, the exact `graft.*`
  * conf keys and environment variables `src/main` reads, the single
  * home of the version-chain lifecycle, the absence of streaming, and
  * the roots every main source file must be reachable from. A new
  * option fails the suite until the change adds it here, visibly,
  * with the reason it cannot be a constant (the `PlanAuditSpec`
  * inventory posture, applied to knobs); a second copy of the
  * lifecycle fails it the same way. Scans the sources, so a read or
  * call on a rarely-run path is still counted. */
class OptionsInventorySpec extends AnyFunSuite {

  /** Every conf key the program reads, with what it is for. */
  private val confKeys = Map(
    "graft.bpe.deepMergesExportDir" -> "deep BPE merge export root (engine and oracle glob)",
    "graft.bpe.driverVocabMax" -> "BPE trainer driver-tier vocabulary threshold",
    "graft.chain.autoCompactVersions" -> "version-chain auto-compaction trigger",
    "graft.chain.compactMaxDirs" -> "version-chain dir-count compaction trigger",
    "graft.cluster.collectEdgesMax" -> "dedup component loop driver-tier edge threshold",
    "graft.cluster.iterDir" -> "iteration storage root (set by perfbench)",
    "graft.graph.collectEdgesMax" -> "graph family driver-tier edge threshold (test seam)",
    "graft.nav.broadcastVecsMax" -> "navigable-graph broadcast tier threshold",
    "graft.vacuum.objectStoreSweep" -> "opt-in orphan sweep on object stores",
    "graft.vacuum.orphanMinAgeMs" -> "orphan sweep minimum age")

  private val envVars = Set("SPARK_GRAFT_CPUS")

  /** (path relative to the `graft` package dir, source) of every
    * main source file. */
  private def mainFiles: Seq[(String, String)] = {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"sources not found under $root")
    val pkg = root.resolve("graft")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => pkg.relativize(p).toString.replace('\\', '/') -> Files.readString(p))
    finally walk.close()
  }

  private def mainSources: Seq[String] = mainFiles.map(_._2)

  /** Roots that no code names, each with how it is reached instead. */
  private val seams = Map(
    "GraftExtensions.scala" -> "loaded by name through spark.sql.extensions",
    "CachePolicy.scala" -> "documentation anchor with no code; the persist() sites cite it")

  /** A comment, or in group 1 a string or char literal. */
  private val commentOrLiteral =
    """("{3}[\s\S]*?"{3,}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])')|//[^\n]*|/\*[\s\S]*?\*/""".r

  /** `src` with comments blanked and string and char literals kept,
    * so a name cited in a comment does not count as a use, and a `//`
    * inside a string literal does not start a comment. */
  private def stripComments(src: String): String =
    commentOrLiteral.replaceAllIn(src, m =>
      scala.util.matching.Regex.quoteReplacement(Option(m.group(1)).getOrElse(" ")))

  private val topLevelType =
    "(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\\[\\w+\\])?)\\s+)*(?:object|class|trait)\\s+(\\w+)".r
  private val identifier = "[A-Za-z_][A-Za-z0-9_]*".r

  test("graft.* conf keys read by src/main match the inventory") {
    val key = "\"(graft\\.[A-Za-z0-9_.]+)\"".r
    val found = mainSources.flatMap(src => key.findAllMatchIn(src).map(_.group(1))).toSet
    assert(found === confKeys.keySet)
    assert(found.size === 10)
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

  test("every src/main file is reachable from a declared root") {
    val code = mainFiles.map { case (p, src) => p -> stripComments(src) }.toMap
    val types = code.map { case (p, src) => p -> topLevelType.findAllMatchIn(src).map(_.group(1)).toSet }
    val uses = code.map { case (p, src) => p -> identifier.findAllIn(src).toSet }
    assert(types.forall(_._2.nonEmpty), types.filter(_._2.isEmpty).keySet)
    // a file is reached when a reached file names one of its types
    def closure(roots: Set[String]): Set[String] = {
      var reached = roots
      var frontier = roots
      while (frontier.nonEmpty) {
        val named = frontier.flatMap(uses)
        frontier = code.keySet.filter(f => !reached(f) && types(f).exists(named))
        reached ++= frontier
      }
      reached
    }
    val bench = {
      val root = Paths.get(sys.props("user.dir"), "perfbench", "src", "main", "scala")
      assert(Files.isDirectory(root), s"perfbench sources not found under $root")
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap(p => identifier.findAllIn(stripComments(Files.readString(p)))).toSet
      finally walk.close()
    }
    val benchRoots = code.keySet.filter(f => types(f).exists(bench))
    assert(benchRoots.contains("io/Writers.scala"))
    val codeRoots = Set("SparkEntry.scala", "Verify.scala") ++ benchRoots
    assert(codeRoots.subsetOf(code.keySet))
    // both ways: every seam names a file that no code root reaches
    assert(seams.keySet.subsetOf(code.keySet))
    assert(closure(codeRoots).intersect(seams.keySet).isEmpty)
    val unreached = code.keySet -- closure(codeRoots ++ seams.keySet)
    assert(unreached.isEmpty)
  }

  test("the version-chain lifecycle has one home, and src/main runs no stream") {
    val files = mainFiles.filterNot(_._1 == "io/BucketedTable.scala")
    def callers(call: String): Set[String] =
      files.filter(_._2.contains(call)).map(_._1).toSet
    for (call <- Seq("BucketedTable.compact(", "isSelfContainedIfCommitted(",
        "BucketedTable.referencedDirs(", "BucketedTable.sweepOrphans("))
      assert(callers(call) === Set("io/VersionChain.scala"), call)
    // the program is a batch DAG: no Structured Streaming anywhere
    for (api <- Seq("org.apache.spark.sql.streaming", "readStream",
        "writeStream", "foreachBatch"))
      assert(mainFiles.filter(_._2.contains(api)).map(_._1).isEmpty, api)
  }
}
