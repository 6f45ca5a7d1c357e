package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-21 manifest-robustness pins (round-20 ADVICE #1/#2): the
  * manifest id space is allocated by RACING publishers, so publish()
  * must never sweep a same-id tmp (another publisher's in-flight
  * write), and a marker-complete manifest dir WITHOUT an entries file
  * (the debris that race could have produced, or a partial
  * object-store rename) must read as incomplete — skipped by
  * readers, liveness and GC floors — instead of crashing every
  * compact/gc/pinned read at the root. */
class SnapshotManifestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("manifest publish leaves a concurrent publisher's in-flight tmp intact") {
    val root = graft.TestTmp.dir("graft_manifest_race_")
    val f = fs(root)
    // simulate the WINNER's in-flight tmp for manifest=0 (staged, not
    // yet marked): a losing publisher entering publish() for the same
    // id must NOT sweep it
    val winnerTmp = new Path(s"$root/_manifests/.tmp-manifest=0-winner0")
    f.mkdirs(winnerTmp)
    f.create(new Path(winnerTmp, "entries"), true).close()
    val id = SnapshotManifest.publish(spark, root, Map("k" -> "v"))
    assert(f.exists(winnerTmp),
      "publish() swept a same-target tmp that belongs to a concurrent publisher")
    assert(f.exists(new Path(winnerTmp, "entries")))
    // and the publish itself is complete AND readable (has entries)
    assert(SnapshotManifest.read(spark, root, id)
      .contains(Map("k" -> "v")))
  }

  test("marker-protocol default still sweeps single-writer crash debris") {
    val root = graft.TestTmp.dir("graft_marker_debris_")
    val f = fs(root)
    val target = s"$root/artifact"
    val debris = new Path(s"$root/.tmp-artifact-deadbeef")
    f.mkdirs(debris)
    val ok = MarkerProtocol.publish(spark, target, overwrite = false) {
      tmp => f.create(new Path(tmp, "payload"), true).close(); true
    }
    assert(ok)
    assert(!f.exists(debris), "single-writer publish must sweep crash debris")
  }

  test("a staging dir deleted under the write fails the publish and exposes nothing") {
    for (deleteDebris <- Seq(true, false)) {
      val root = graft.TestTmp.dir("graft_marker_vanished_")
      val f = fs(root)
      val target = s"$root/artifact"
      intercept[java.io.IOException] {
        MarkerProtocol.publish(spark, target, overwrite = false,
          deleteDebris = deleteDebris) { tmp =>
          f.create(new Path(tmp, "payload"), true).close()
          f.delete(tmp, true)
          true
        }
      }
      assert(!f.exists(new Path(target)), s"deleteDebris=$deleteDebris")
      assert(f.listStatus(new Path(root)).isEmpty, s"deleteDebris=$deleteDebris")
    }
  }

  test("a marker-complete manifest without entries reads as incomplete everywhere") {
    val root = graft.TestTmp.dir("graft_manifest_noentries_")
    val f = fs(root)
    val bad = new Path(s"$root/_manifests/manifest=0")
    f.mkdirs(bad)
    f.create(new Path(bad, MarkerProtocol.Marker), true).close()
    // readers skip it instead of FileNotFoundException
    assert(SnapshotManifest.read(spark, root, 0L).isEmpty)
    assert(SnapshotManifest.live(spark, root).isEmpty)
    assert(SnapshotManifest.newest(spark, root).isEmpty)
    assert(SnapshotManifest.floor(spark, root, "lsh.base").isEmpty)
    // and the root still works: the next publish allocates PAST the
    // debris id and resolves as newest
    val id = SnapshotManifest.publish(spark, root,
      Map("lsh.base" -> "7"))
    assert(id > 0L)
    assert(SnapshotManifest.newest(spark, root)
      .exists { case (i, e) => i == id && e == Map("lsh.base" -> "7") })
    assert(SnapshotManifest.floor(spark, root, "lsh.base").contains(7L))
  }
}
