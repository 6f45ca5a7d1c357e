package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Rules about where main code may do certain things, checked over the
  * text of `src/main`: Spark work runs on its own threads and is waited
  * on only through `graft.operators.Overlap`, only
  * `graft.streaming.MarkerProtocol` knows the publish marker and the
  * staging name, only `graft.streaming.StreamStart` names a stream's
  * checkpoint and its checkpoint manager, the index streams leave
  * manifest floors, deletes and debris to `graft.streaming.Retention`,
  * the harness mains take their session and between-query release
  * from `graft.tools.Runner`, bar the fixture generator `GenScale`,
  * which builds its own, and main code reads three env names: the two
  * deployment settings, in `Runner` only, and the dedup grain pin. */
class SourceInvariantSpec extends AnyFunSuite {

  /** (file name, text) of every main source. */
  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        (p.toString.endsWith(".scala") || p.toString.endsWith(".java")))
      .map((p: Path) => p.getFileName.toString -> Files.readString(p))
      .toSeq.sortBy(_._1)
    finally files.close()
  }

  /** "file: count" for each file outside `allowed` that holds `needle`. */
  private def offenders(needle: String, allowed: String*): Seq[String] =
    sources.collect {
      case (f, text) if !allowed.contains(f) && text.contains(needle) =>
        s"$f: ${text.split(java.util.regex.Pattern.quote(needle), -1).length - 1}"
    }

  test("only Overlap creates a pool for Spark work or waits on one") {
    assert(sources.exists(_._1 == "Overlap.scala"))
    for (needle <- Seq("Duration.Inf", "newCachedThreadPool",
        "ExecutionContext.fromExecutor", "Overlap.ec"))
      assert(offenders(needle, "Overlap.scala").isEmpty, needle)
    // ApiServer's HTTP executor is the one other pool
    assert(offenders("newFixedThreadPool", "Overlap.scala") ==
      Seq("ApiServer.scala: 1"))
  }

  test("only StreamStart starts a checkpointed stream or picks its checkpoint manager") {
    for (needle <- Seq("checkpointFileManagerClass", ".option(\"checkpointLocation\"")) {
      assert(sources.exists { case (f, text) =>
        f == "StreamStart.scala" && text.contains(needle) }, needle)
      assert(offenders(needle, "StreamStart.scala").isEmpty, needle)
    }
  }

  test("only MarkerProtocol knows the publish marker and the staging name") {
    assert(sources.exists { case (f, text) =>
      f == "MarkerProtocol.scala" && text.contains("\"_GRAFT_OK\"") })
    assert(offenders("\"_GRAFT_OK\"", "MarkerProtocol.scala").isEmpty)
    assert(offenders(".tmp-", "MarkerProtocol.scala").isEmpty)
  }

  test("the index streams leave floors, deletes and debris to Retention") {
    val families = Seq("LshIndexStream.scala", "ClusterIndexStream.scala",
      "IvfIndexStream.scala")
    assert(families.forall(f => sources.exists(_._1 == f)))
    for (needle <- Seq("deleteVersions", "deleteStaged", "liveC(", "floorC(",
        "SnapshotManifest.live(", "java.io.File"))
      assert(sources.collect { case (f, text)
        if families.contains(f) && text.contains(needle) => f }.isEmpty, needle)
  }

  test("only Runner releases between queries; Runner and GenScale build sessions") {
    assert(sources.exists(_._1 == "Runner.scala"))
    for (needle <- Seq("getPersistentRDDs", "cacheManager.clearCache", "dropTempView"))
      assert(offenders(needle, "Runner.scala").isEmpty, needle)
    assert(offenders("SparkSession.builder",
      "Runner.scala", "GenScale.scala").isEmpty)
  }

  test("main code reads three env names, the deployment two only in Runner") {
    val anyRead = """sys\.env|getenv""".r
    val read = """(?:sys\.env|System\.getenv)(?:\.(?:get|getOrElse|contains))?\(\s*"(\w+)"""".r
    // every read names its variable literally, so the list below is whole
    for ((f, text) <- sources)
      assert(anyRead.findAllIn(text).size == read.findAllIn(text).size, f)
    val reads = sources.flatMap { case (f, text) =>
      read.findAllMatchIn(text).map(m => m.group(1) -> f) }
    assert(reads.map(_._1).toSet ==
      Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "GRAFT_GRAIN_FORCE"))
    assert(reads.collect { case (n, f) if n.startsWith("SPARK_GRAFT_") => f }
      .toSet == Set("Runner.scala"))
  }
}
