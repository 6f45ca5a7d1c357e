package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Streaming maintenance of the q284 cluster-label artifact
  * (ClusterIndexStream): across checkpointed restarts the latest
  * versioned state must equal from-scratch labels of the accumulated
  * corpus (the mergeCore equivalence, now under streaming delivery
  * where clusters GROW and MERGE across batches), and a redelivered
  * batch must land idempotently (state is versioned by batchId, so
  * the replay re-reads untouched state N−1 and overwrites its own
  * version). */
class StreamingClusterIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val base =
    "the quick brown fox jumps over the lazy dog again and again"

  private def labelSet(df: org.apache.spark.sql.DataFrame) =
    df.select("h", "lbl").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  test("streamed labels equal from-scratch across restarts; replays are no-ops") {
    import spark.implicits._
    val srcDir = graft.TestTmp.dir("graft_clstream_src_")
    val stateDir = graft.TestTmp.dir("graft_clstream_state_")
    val ckpt = graft.TestTmp.dir("graft_clstream_ck_")
    // batch 0 plants a 2-doc near-dup component; batch 1 adds an
    // exact dup of old content plus an unrelated content; batch 2's
    // near-dup of batch-0 content must GROW the standing component
    // (cross-batch frontier merge, the interesting path)
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(20L -> (base + " family zero"),
        21L -> (base + " family zero variant")),
      // 22 is an exact dup of OLD content and 26 a NEW near-dup of
      // that same old content, in the SAME batch: the candidate pair
      // (old-h, new-h) needs old-h's shingles from the contact-set
      // fetch even though old-h is among the batch's own hashes —
      // pins mergeCore's candH anti-join to the right frame
      Seq(22L -> (base + " family zero"),
        26L -> (base + " family zero third variant"),
        23L -> "completely unrelated content number one with many words"),
      Seq(24L -> (base + " family zero second variant"),
        25L -> "tiny doc"))
    def writeBatch(b: Seq[(Long, String)]): Unit =
      b.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
    batches.foreach { b =>
      writeBatch(b)
      ClusterIndexStream.start(spark, srcDir, stateDir, ckpt)
        .awaitTermination()
    }
    val allDocs = batches.flatten.toDF("doc_id", "text")
    val streamed = labelSet(ClusterIndexStream.labels(spark, stateDir))
    val scratch = labelSet(
      graft.operators.ClusterIndexQueries.fromScratchLabels(allDocs))
    // fromScratchLabels plants corpus() copies for doc_id < 20; the
    // fixture ids are all >= 20 so both sides see the same corpus
    assert(streamed == scratch,
      s"diff: ${(streamed.diff(scratch) ++
        scratch.diff(streamed)).take(5)}")
    assert(streamed.nonEmpty)
    // the batch-2 variant must have joined the standing component
    val lbls = streamed.toMap
    def h(text: String): String = {
      import org.apache.spark.sql.functions.{col, md5}
      Seq(text).toDF("t")
        .select(md5(graft.functions.TextOps.norm(col("t"))))
        .head().getString(0)
    }
    assert(lbls.contains(h(base + " family zero second variant")) &&
      lbls(h(base + " family zero second variant")) ==
        lbls(h(base + " family zero")),
      "cross-batch frontier merge failed to grow the component")
    // crash-redelivery of batch 1 with its stable id: state(0) is
    // untouched, batch=1 overwrites itself, the LATEST state is
    // byte-identical
    ClusterIndexStream.mergeBatch(srcDir, stateDir)(
      batches(1).toDF("doc_id", "text"), 1L)
    assert(labelSet(ClusterIndexStream.labels(spark, stateDir))
      == streamed, "replayed batch changed the latest state")
    // state retention: prune to the keep=2 floor; reads serve the
    // same labels, and a redelivery of the LATEST batch (which reads
    // its predecessor) still lands identically
    ClusterIndexStream.pruneVersions(stateDir)
    val remaining = new java.io.File(stateDir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(remaining.sameElements(Array("batch=1", "batch=2")),
      s"prune kept ${remaining.mkString(",")}")
    assert(labelSet(ClusterIndexStream.labels(spark, stateDir))
      == streamed, "prune changed the latest state")
    ClusterIndexStream.mergeBatch(srcDir, stateDir)(
      batches(2).toDF("doc_id", "text"), 2L)
    assert(labelSet(ClusterIndexStream.labels(spark, stateDir))
      == streamed, "post-prune redelivery changed the latest state")
  }

  test("CDC deletes: streamed state equals from-scratch on the net corpus; a delete splits a standing component") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    val srcDir = graft.TestTmp.dir("graft_clcdc_src_")
    val stateDir = graft.TestTmp.dir("graft_clcdc_state_")
    val ckpt = graft.TestTmp.dir("graft_clcdc_ck_")
    // the ClusterIndexSpec 33-word chain: adjacent contents near-dup
    // (jac ≈ .706), ≥2-apart under threshold — a path component
    val W = Seq(
      "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
      "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
      "victor", "whiskey", "xray", "yankee", "zulu", "one", "two",
      "three", "four", "five", "six", "seven", "eight", "nine", "ten",
      "eleven")
    val V = Seq("red", "orange", "yellow", "green", "blue")
    val baseW = W.take(33)
    def chain(k: Int): String =
      baseW.zipWithIndex.map { case (w, i) =>
        val step = i / 5
        if (i % 5 == 0 && i >= 5 && i <= 20 && step <= k) V(step) else w
      }.mkString(" ")
    // batch 0 builds the left half + middle; batch 1 completes the
    // chain (cross-batch component merge) and adds a REPLICA of the
    // middle content; batch 2 deletes one middle replica (content
    // survives — labels must NOT change); batch 3 deletes the other
    // (content retracts — the component must SPLIT)
    val batches: Seq[Seq[(Long, String, String)]] = Seq(
      (0 to 2).map(k => (50L + k, chain(k), "I")),
      Seq((53L, chain(3), "I"), (54L, chain(4), "I"),
        (55L, chain(2), "I")),
      Seq((52L, null.asInstanceOf[String], "D")),
      Seq((55L, null.asInstanceOf[String], "D")))
    def runBatch(b: Seq[(Long, String, String)]): Unit = {
      b.toDF("doc_id", "text", "op").coalesce(1)
        .write.mode("append").parquet(srcDir)
      ClusterIndexStream.startCdc(spark, srcDir, stateDir, ckpt)
        .awaitTermination()
    }
    def h(text: String): String =
      Seq(text).toDF("t")
        .select(md5(graft.functions.TextOps.norm(col("t"))))
        .head().getString(0)
    val hs = (0 to 4).map(k => h(chain(k)))
    runBatch(batches(0)); runBatch(batches(1))
    val joinedSet = labelSet(ClusterIndexStream.labels(spark, stateDir))
    val joined = joinedSet.toMap
    assert(hs.forall(joined.contains) &&
      hs.map(joined).distinct.size == 1,
      s"chain did not form one component: ${hs.map(joined.get)}")
    // delete ONE replica of the middle content: content survives,
    // labels must be exactly the pre-delete labels
    runBatch(batches(2))
    assert(labelSet(ClusterIndexStream.labels(spark, stateDir))
      == joinedSet, "partial retraction changed labels")
    // delete the LAST replica: the middle content retracts and the
    // path component must split into {c0,c1} and {c3,c4}
    runBatch(batches(3))
    val split = labelSet(ClusterIndexStream.labels(spark, stateDir))
      .toMap
    assert(!split.contains(hs(2)), "retracted content kept a label")
    assert(split(hs(0)) == split(hs(1)) &&
      split(hs(3)) == split(hs(4)) && split(hs(0)) != split(hs(3)),
      s"delete did not split the component: $split")
    // and the streamed state equals a from-scratch world over the NET
    // corpus (inserts minus deletes)
    val net = Seq(50L -> chain(0), 51L -> chain(1), 53L -> chain(3),
      54L -> chain(4)).toDF("doc_id", "text")
    assert(split.toSet ==
      labelSet(graft.operators.ClusterIndexQueries
        .fromScratchLabels(net)),
      "streamed CDC state diverged from from-scratch on the net corpus")
  }

  test("half-written versions are invisible to readers and safe under prune") {
    import spark.implicits._
    val srcDir = graft.TestTmp.dir("graft_clcrash_src_")
    val stateDir = graft.TestTmp.dir("graft_clcrash_state_")
    val docs = Seq(30L -> (base + " crash family"),
      31L -> (base + " crash family variant")).toDF("doc_id", "text")
    docs.coalesce(1).write.mode("append").parquet(srcDir)
    ClusterIndexStream.mergeBatch(srcDir, stateDir)(docs, 0L)
    val good = labelSet(ClusterIndexStream.labels(spark, stateDir))
    assert(good.nonEmpty)
    // simulate a crash mid-publish of batch=1: a version directory
    // with data but NO _GRAFT_OK marker (the pre-rename window, or a
    // non-atomic object-store rename caught halfway)
    val crashed = new java.io.File(stateDir, "batch=1")
    new java.io.File(crashed, "labels").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(crashed.getPath, "labels", "part-junk"),
      Array[Byte](1, 2, 3))
    // readers must skip the marker-less version, not fail on it
    assert(labelSet(ClusterIndexStream.labels(spark, stateDir)) == good,
      "reader served a half-written version")
    // prune racing the in-flight write: batch=1 is NEWER than every
    // complete version, so prune must not touch it — and must not
    // count it toward keep (batch=0, the only complete version, stays)
    ClusterIndexStream.pruneVersions(stateDir)
    assert(crashed.isDirectory, "prune deleted an in-flight version")
    assert(new java.io.File(stateDir, "batch=0/_GRAFT_OK").isFile,
      "prune deleted the only complete version")
    // redelivery of the crashed batch repairs it in place (new content
    // is an exact dup of standing content — labels must not change)
    ClusterIndexStream.mergeBatch(srcDir, stateDir)(
      Seq(32L -> (base + " crash family")).toDF("doc_id", "text"), 1L)
    assert(new java.io.File(stateDir, "batch=1/_GRAFT_OK").isFile)
    assert(labelSet(ClusterIndexStream.labels(spark, stateDir)) == good)
    // once superseded by a newer complete version, marker-less debris
    // IS reclaimed: plant stale debris below the complete frontier
    val debris = new java.io.File(stateDir, "batch=0")
    new java.io.File(debris, "_GRAFT_OK").delete()
    ClusterIndexStream.pruneVersions(stateDir)
    assert(!debris.exists(), "prune kept superseded marker-less debris")
  }

  test("crash tmp debris is cleared on redelivery and reclaimed by prune once superseded") {
    // round-18 advice #4: a crash between the tmp writes and the
    // rename leaves .tmp-batch=N-<uuid>; redelivery of batch N (the
    // only writer for N) clears its own leftovers before retrying,
    // and prune reclaims tmp dirs a COMPLETE version already covers —
    // while never touching a tmp NEWER than the complete frontier
    // (it may be a publish in flight).
    import spark.implicits._
    val srcDir = graft.TestTmp.dir("graft_cltmp_src_")
    val stateDir = graft.TestTmp.dir("graft_cltmp_state_")
    val docs = Seq(40L -> (base + " tmp family"),
      41L -> (base + " tmp family variant")).toDF("doc_id", "text")
    docs.coalesce(1).write.mode("append").parquet(srcDir)
    ClusterIndexStream.mergeBatch(srcDir, stateDir)(docs, 0L)
    val good = labelSet(ClusterIndexStream.labels(spark, stateDir))
    def plant(name: String): java.io.File = {
      val f = new java.io.File(stateDir, name)
      f.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f.getPath, "junk"), Array[Byte](9))
      f
    }
    val staleTmp = plant(".tmp-batch=0-cafe0000") // superseded: 0 complete
    val liveTmp = plant(".tmp-batch=1-dead0000") // maybe in flight: 1 > 0
    // round-19 advice: under the DEFAULT grace, even a superseded tmp
    // survives while fresh — it may be a crash-recovery REDELIVERY of
    // the frontier batch mid-publish; only aged-out debris is
    // reclaimed (tmpGraceMs=0 simulates age for the stale one).
    ClusterIndexStream.pruneVersions(stateDir)
    assert(staleTmp.isDirectory,
      "prune deleted a fresh tmp inside the redelivery grace window")
    ClusterIndexStream.pruneVersions(stateDir, tmpGraceMs = 0L)
    assert(!staleTmp.exists(), "prune kept a superseded aged-out tmp dir")
    assert(liveTmp.isDirectory, "prune deleted a possibly-live tmp dir")
    // redelivery of batch 1 clears ITS OWN debris before publishing
    val extra = Seq(42L -> (base + " tmp family")).toDF("doc_id", "text")
    extra.coalesce(1).write.mode("append").parquet(srcDir)
    ClusterIndexStream.mergeBatch(srcDir, stateDir)(extra, 1L)
    assert(!liveTmp.exists(), "redelivery left its own crash debris")
    assert(new java.io.File(stateDir, "batch=1/_GRAFT_OK").isFile)
    assert(labelSet(ClusterIndexStream.labels(spark, stateDir)) == good)
  }

  test("snapshot manifest: a pinned version survives prune past the keep window; dropping the lease releases it") {
    import spark.implicits._
    val srcDir = graft.TestTmp.dir("graft_clsnap_src_")
    val stateDir = graft.TestTmp.dir("graft_clsnap_state_")
    def runBatch(b: Seq[(Long, String)], id: Long): Unit = {
      val df = b.toDF("doc_id", "text")
      df.coalesce(1).write.mode("append").parquet(srcDir)
      ClusterIndexStream.mergeBatch(srcDir, stateDir)(df, id)
    }
    runBatch(Seq(60L -> (base + " snap family"),
      61L -> (base + " snap family variant")), 0L)
    // pin version 0, then let the state advance two more versions —
    // prune's keep=2 window alone would reclaim version 0
    val m0 = SnapshotManifest.publish(spark, stateDir,
      ClusterIndexStream.pin(stateDir))
    val world0 = labelSet(ClusterIndexStream.labels(spark, stateDir))
    runBatch(Seq(62L -> "completely unrelated content one two three"), 1L)
    runBatch(Seq(63L -> (base + " snap family third variant")), 2L)
    ClusterIndexStream.pruneVersions(stateDir)
    assert(new java.io.File(stateDir, "batch=0/_GRAFT_OK").isFile,
      "prune reclaimed a version a live manifest pins")
    assert(labelSet(
      ClusterIndexStream.labelsAt(spark, stateDir, m0)) == world0,
      "pinned reader's version changed under it")
    assert(labelSet(ClusterIndexStream.labels(spark, stateDir))
      != world0)
    // lease drops: the keep-2 window reclaims version 0
    SnapshotManifest.drop(spark, stateDir, m0)
    ClusterIndexStream.pruneVersions(stateDir)
    assert(!new java.io.File(stateDir, "batch=0").exists(),
      "dropped lease did not release the version to prune")
    assert(new java.io.File(stateDir, "batch=1/_GRAFT_OK").isFile &&
      new java.io.File(stateDir, "batch=2/_GRAFT_OK").isFile)
  }

  test("publishSnapshot re-resolves when a racing prune reclaims the pinned version") {
    import spark.implicits._
    val srcDir = graft.TestTmp.dir("graft_clrace_src_")
    val stateDir = graft.TestTmp.dir("graft_clrace_state_")
    def runBatch(b: Seq[(Long, String)], id: Long): Unit = {
      val df = b.toDF("doc_id", "text")
      df.coalesce(1).write.mode("append").parquet(srcDir)
      ClusterIndexStream.mergeBatch(srcDir, stateDir)(df, id)
    }
    runBatch(Seq(70L -> (base + " race family"),
      71L -> (base + " race family variant")), 0L)
    // inside the publish→verify window: two more versions land, then a
    // prune whose retention-floor listing predates the in-flight
    // manifest (simulated by a manifest root that does not contain
    // it) reclaims version 0, the one the pin resolved to
    var publishes = 0
    val m = SnapshotManifest.publishVerified(spark, stateDir,
      () => ClusterIndexStream.resolvePin(stateDir), { _ =>
        publishes += 1
        if (publishes == 1) {
          runBatch(Seq(72L -> "completely unrelated content one two three"), 1L)
          runBatch(Seq(73L -> (base + " race family third variant")), 2L)
          ClusterIndexStream.pruneVersions(stateDir,
            manifestRoot = Some(graft.TestTmp.dir("graft_clrace_blind_")))
          assert(!new java.io.File(stateDir, "batch=0").exists())
        }
      })
    assert(publishes == 2, s"expected a verify-failure retry, got " +
      s"$publishes publish attempt(s)")
    assert(SnapshotManifest.read(spark, stateDir, m).get ==
      Map("cluster.version" -> "2"))
    assert(labelSet(ClusterIndexStream.labelsAt(spark, stateDir, m)) ==
      labelSet(ClusterIndexStream.labels(spark, stateDir)))
  }
}
