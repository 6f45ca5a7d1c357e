package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Rules about where main code may do certain things, checked over the
  * text of `src/main`: Spark work runs on its own threads and is waited
  * on only through `graft.operators.Overlap`, only
  * `graft.streaming.MarkerProtocol` knows the publish marker and the
  * staging name, only `graft.streaming.StreamStart` names a stream's
  * checkpoint and its checkpoint manager, and the index streams leave
  * manifest floors, deletes and debris to `graft.streaming.Retention`. */
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
}
