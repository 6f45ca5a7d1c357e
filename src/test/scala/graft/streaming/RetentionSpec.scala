package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The shared retention step and the marker it relies on: debris a
  * crashed GC leaves is swept by the next one, a half-withdrawn version
  * never reads as complete, and a marker written without a Hadoop
  * `.crc` shadow counts as one. */
class RetentionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def names(d: Path): Seq[String] = {
    val s = Files.list(d)
    try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  private def docs(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"the quick brown fox jumps over the lazy dog $i"))
      .toDF("doc_id", "text")
  }

  test("an aged staging dir left by a crashed compaction is swept by the next compact") {
    val root = Paths.get(graft.TestTmp.dir("graft_retention_lsh_"))
    val d = CrashFileSystem.uri(root)
    LshIndexStream.mergeBatch(d)(docs(Seq(1L, 2L)), 0L)
    // the compaction dies while staging its base
    CrashFileSystem.arm(root, 2L)
    assert(Try(LshIndexStream.compact(spark, d)).isFailure)
    CrashFileSystem.disarm(root)
    val debris = names(root).filter(_.startsWith(".tmp-_base=0-"))
    assert(debris.size == 1, names(root))
    LshIndexStream.mergeBatch(d)(docs(Seq(3L)), 1L)
    // a fresh staging dir may be a redelivery's write: it stays
    assert(LshIndexStream.compact(spark, d).contains(1L))
    assert(names(root).contains(debris.head))
    // an hour old: past the ten-minute grace
    Files.setLastModifiedTime(root.resolve(debris.head), FileTime.fromMillis(
      System.currentTimeMillis() - 60 * 60 * 1000L))
    assert(LshIndexStream.compact(spark, d).contains(1L))
    assert(!names(root).exists(_.startsWith(".tmp-")),
      s"aged compaction debris survived: ${names(root)}")
    assert(LshIndexStream.index(spark, d).count() ==
      graft.operators.LshIndexQueries.signatures(docs(1L to 3L)).count())
  }

  test("a version whose parts are half deleted never reads as complete") {
    val lake = graft.TestTmp.dir("graft_retention_lake_")
    val root = Paths.get(graft.TestTmp.dir("graft_retention_cluster_"))
    val d = CrashFileSystem.uri(root)
    for (b <- 0L to 2L) {
      val batch = docs(Seq(10L * b, 10L * b + 1L))
      batch.write.mode("append").parquet(lake)
      ClusterIndexStream.mergeBatch(lake, d)(batch, b)
    }
    val parts = Seq("labels", "memb", "sigs")
    // keep-2 drops version 0; crash the prune after each of its first
    // steps in turn
    for (n <- 1L to 4L) {
      CrashFileSystem.arm(root, n)
      Try(ClusterIndexStream.pruneVersions(d))
      CrashFileSystem.disarm(root)
      for (v <- MarkerProtocol.versions(d, "batch=", completeOnly = true)) {
        val dir = root.resolve(s"batch=$v")
        assert(parts.forall(p => Files.isDirectory(dir.resolve(p)) &&
          names(dir.resolve(p)).exists(_.startsWith("part-"))),
          s"crash at step $n: batch=$v reads as complete with ${names(dir)}")
      }
    }
    ClusterIndexStream.pruneVersions(d)
    assert(names(root) == Seq("batch=1", "batch=2"))
  }

  test("a marker without a .crc shadow counts as one for every check") {
    val root = graft.TestTmp.dir("graft_retention_crc_")
    // published on a local path: the marker has no .crc
    assert(MarkerProtocol.publish(spark, s"$root/batch=0",
      overwrite = false)(_ => true))
    val v0 = Paths.get(root, "batch=0")
    assert(names(v0) == Seq(MarkerProtocol.Marker))
    // one written by Hadoop's local filesystem has one
    val v1 = Paths.get(root, "batch=1")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(v1.toString,
      MarkerProtocol.Marker), true).close()
    assert(names(v1) == Seq(s".${MarkerProtocol.Marker}.crc",
      MarkerProtocol.Marker))
    for (v <- Seq(v0, v1)) assert(MarkerProtocol.isComplete(v.toString))
    assert(MarkerProtocol.versions(root, "batch=", completeOnly = true) ==
      Seq(0L, 1L))
    for (v <- Seq(v0, v1)) {
      MarkerProtocol.unpublish(v.toString)
      assert(!Files.exists(v))
    }
    assert(MarkerProtocol.versions(root, "batch=").isEmpty)
  }
}
