package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Streaming maintenance of the q265 IVF shard index
  * (IvfIndexStream): across checkpointed restarts the maintained
  * index must equal a batch-built assignment of the accumulated
  * corpus under the SAME frozen centroids; a redelivered batch lands
  * idempotently (per-doc-pure rows, overwrite under the stable
  * batchId); centroids train once — from the first delivered batch,
  * never again. */
class StreamingIvfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dim = 8

  /** Deterministic synthetic vectors: id i points mostly along axis
    * i % dim with an id-dependent wobble — assignments are exact and
    * reproducible. */
  private def vec(i: Long): Array[Float] = {
    val a = Array.fill(dim)(0.0f)
    a((i % dim).toInt) = 1.0f
    a(((i + 3) % dim).toInt) = (0.001f * (i % 97))
    a
  }

  private def rows(ids: Seq[Long]) = {
    val spark2 = spark
    import spark2.implicits._
    ids.map(i => (i, vec(i), i % 5)).toDF("vec_id", "embedding", "label")
  }

  private def idxSet(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "cell", "csim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("empty batch defers centroid training; pre-publication reads are empty frames") {
    // round-18 advice: a stream started before the lake has data must
    // not freeze an empty centroid set, and index()/cells() before any
    // publication must return empty frames, not AnalysisException
    val idxDir = graft.TestTmp.dir("graft_ivfstream_empty_")
    assert(IvfIndexStream.index(spark, idxDir).count() == 0L)
    assert(IvfIndexStream.cells(spark, idxDir).count() == 0L)
    // delivering an EMPTY batch 0 publishes nothing and trains nothing
    IvfIndexStream.mergeBatch(idxDir)(rows(Seq.empty), 0L)
    assert(!new java.io.File(s"$idxDir/centroids/_GRAFT_OK").isFile,
      "empty batch must not train centroids")
    assert(IvfIndexStream.index(spark, idxDir).count() == 0L)
    // the first NON-empty batch trains (even undersized: 5 < 32
    // vectors still publishes a usable centroid set, logged)
    IvfIndexStream.mergeBatch(idxDir)(rows(0L until 5L), 1L)
    // 5 distinct-axis vectors in 5 cells is uniform — no drift bump
    assert(IvfIndexStream.liveGeneration(idxDir) == 0L)
    assert(new java.io.File(s"$idxDir/centroids/_GRAFT_OK").isFile)
    val cents = IvfIndexStream
      .centroids(spark, idxDir, sys.error("must not retrain"))
    assert(cents.count() == 5L)
    assert(IvfIndexStream.index(spark, idxDir).count() == 5L)
  }

  test("streamed IVF index equals batch-built across restarts; replays and retrains are no-ops") {
    val srcDir = graft.TestTmp.dir("graft_ivfstream_src_")
    val idxDir = graft.TestTmp.dir("graft_ivfstream_idx_")
    val ckpt = graft.TestTmp.dir("graft_ivfstream_ck_")
    // batch 0 is wide enough to train all 32 centroids; later batches
    // only assign
    // drift retrain disabled (MaxValue) to pin the pure
    // frozen-centroid q265 contract in isolation — this fixture's
    // 8-axis corpus is deliberately skewed and would bump otherwise
    val batches = Seq(0L until 40L, 40L until 70L, 70L until 100L)
      .map(_.toSeq)
    batches.foreach { ids =>
      rows(ids).coalesce(1).write.mode("append").parquet(srcDir)
      IvfIndexStream.start(spark, srcDir, idxDir, ckpt, Long.MaxValue)
        .awaitTermination()
    }
    // centroids published once, marker present
    assert(new java.io.File(s"$idxDir/centroids/_GRAFT_OK").isFile)
    val cents = IvfIndexStream
      .centroids(spark, idxDir, sys.error("must not retrain"))
    val centIds = cents.select("cid").collect().map(_.getLong(0)).toSet
    assert(centIds.size == 32)
    // centroids came from batch 0 only — frozen, never widened by
    // later batches
    assert(centIds.forall(_ < 40L), s"centroids leaked: $centIds")
    // streamed == batch-built under the same frozen centroids
    val streamed = idxSet(IvfIndexStream.index(spark, idxDir))
    val direct = idxSet(
      IvfIndexStream.assignTo(cents, rows(batches.flatten)))
    assert(streamed == direct,
      s"diff: ${(streamed.diff(direct) ++ direct.diff(streamed)).take(5)}")
    assert(streamed.map(_._1) == (0L until 100L).toSet)
    // redelivery of batch 1 with its stable id: index unchanged, work
    // NOT skipped (idempotency comes from the sink layout)
    val before = IvfIndexStream.batchCount.get()
    IvfIndexStream.mergeBatch(idxDir, Long.MaxValue)(rows(batches(1)), 1L)
    assert(IvfIndexStream.batchCount.get() == before + 1)
    assert(idxSet(IvfIndexStream.index(spark, idxDir)) == streamed,
      "replayed batch changed the index")
    // the per-cell summary covers every assigned vector
    val total = IvfIndexStream.cells(spark, idxDir)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total == 100L)
  }

  test("CDC deletes: streamed index equals from-scratch on the net corpus; re-insert after delete survives") {
    val spark2 = spark
    import spark2.implicits._
    val srcDir = graft.TestTmp.dir("graft_ivfcdc_src_")
    val idxDir = graft.TestTmp.dir("graft_ivfcdc_idx_")
    val ckpt = graft.TestTmp.dir("graft_ivfcdc_ck_")
    def ins(ids: Seq[Long]) = ids.map(i => (i, vec(i), "I"))
    def del(ids: Seq[Long]) =
      ids.map(i => (i, null.asInstanceOf[Array[Float]], "D"))
    // batch 0 trains centroids (40 ≥ 32 vectors); batch 1 deletes two
    // ids and inserts more (one id inserted AND deleted in the same
    // batch — delete wins); batch 2 re-inserts a deleted id
    val batches: Seq[Seq[(Long, Array[Float], String)]] = Seq(
      ins(0L until 40L),
      ins(40L until 60L) ++ del(Seq(5L, 17L)) ++
        ins(Seq(60L)) ++ del(Seq(60L)),
      ins(Seq(17L)))
    batches.foreach { b =>
      b.toDF("vec_id", "embedding", "op").coalesce(1)
        .write.mode("append").parquet(srcDir)
      IvfIndexStream.startCdc(spark, srcDir, idxDir, ckpt, Long.MaxValue)
        .awaitTermination()
    }
    val liveIds = ((0L until 60L).toSet - 5L) // 17 re-inserted; 60 never lives
    val streamed = idxSet(IvfIndexStream.index(spark, idxDir))
    assert(streamed.map(_._1) == liveIds,
      s"live ids wrong: missing ${liveIds.diff(streamed.map(_._1))}, " +
        s"extra ${streamed.map(_._1).diff(liveIds)}")
    // from-scratch assignment of the net corpus under the SAME frozen
    // centroids (trained from batch 0, never retrained by CDC churn)
    val cents = IvfIndexStream
      .centroids(spark, idxDir, sys.error("must not retrain"))
    val direct = idxSet(IvfIndexStream.assignTo(cents,
      rows(liveIds.toSeq.sorted)))
    assert(streamed == direct,
      s"diff: ${(streamed.diff(direct) ++ direct.diff(streamed)).take(5)}")
    // redelivery of the delete batch is a no-op
    IvfIndexStream.mergeBatch(idxDir, Long.MaxValue)(
      batches(1).toDF("vec_id", "embedding", "op"), 1L)
    assert(idxSet(IvfIndexStream.index(spark, idxDir)) == streamed,
      "replayed CDC batch changed the index")
  }

  test("drift bump: a skewed batch trains generation 1 exactly once; redelivery re-selects the old generation and never re-bumps") {
    val spark2 = spark
    import spark2.implicits._
    val srcDir = graft.TestTmp.dir("graft_ivfgen_src_")
    val idxDir = graft.TestTmp.dir("graft_ivfgen_idx_")
    val ckpt = graft.TestTmp.dir("graft_ivfgen_ck_")
    def ins(ids: Seq[Long]) = ids.map(i => (i, vec(i), "I"))
    def del(ids: Seq[Long]) =
      ids.map(i => (i, null.asInstanceOf[Array[Float]], "D"))
    // batch 0: 4 distinct-axis vectors -> 4 gen-0 centroids, uniform
    // occupancy (skew 1.0x — no bump). batch 1: 12 vectors all on
    // axis 0 -> cell(id0) holds 13 of 16 with 4 trained cells: skew
    // = 13*4e6/16 = 3.25M ≥ 1.5M — generation 1 trains on the 16
    // live vectors (self-contained: the index stores them), cover=1.
    // batch 2: a CDC delete -> folds under gen 1, kills the id's
    // BASE row (batch=cover=1 < 2), and the now-uniform occupancy
    // (1*16e6/15 ≈ 1.07M) does not re-bump.
    val axis0 = (1L to 12L).map(_ * 8L)
    val batches: Seq[Seq[(Long, Array[Float], String)]] = Seq(
      ins(0L until 4L), ins(axis0), del(Seq(8L)))
    batches.foreach { b =>
      b.toDF("vec_id", "embedding", "op").coalesce(1)
        .write.mode("append").parquet(srcDir)
      IvfIndexStream.startCdc(spark, srcDir, idxDir, ckpt)
        .awaitTermination()
    }
    assert(IvfIndexStream.liveGeneration(idxDir) == 1L)
    assert(IvfIndexStream.generations(idxDir) == Seq((1L, 1L)),
      "generation 1 must cover batch 1")
    val liveIds = (0L until 4L).toSet ++ axis0 - 8L
    val streamed = idxSet(IvfIndexStream.index(spark, idxDir))
    assert(streamed.map(_._1) == liveIds)
    // live index == from-scratch assignment of the net corpus under
    // GENERATION-1 centroids (trained on all 16, never the gen-0 four)
    val cents1 = spark.read.parquet(s"$idxDir/_gen=1/centroids")
    assert(cents1.count() == 16L, "gen-1 trained on the live corpus")
    val direct = idxSet(IvfIndexStream.assignTo(cents1,
      rows(liveIds.toSeq.sorted)))
    assert(streamed == direct,
      s"diff: ${(streamed.diff(direct) ++ direct.diff(streamed)).take(5)}")
    // redelivery of the SKEWED batch 1: genFor re-selects gen 0
    // (gen 1's cover=1 is not < 1), overwrites its own gen-0 batch
    // dir, re-derives the same drift decision, and the write-once
    // marker makes the re-bump a no-op — no generation 2, index
    // byte-identical
    IvfIndexStream.mergeBatch(idxDir)(
      batches(1).toDF("vec_id", "embedding", "op"), 1L)
    assert(IvfIndexStream.generations(idxDir) == Seq((1L, 1L)),
      "redelivery created a new generation")
    assert(idxSet(IvfIndexStream.index(spark, idxDir)) == streamed,
      "replayed batch changed the index")
    // a fresh batch after the bump folds under generation 1
    val b3 = ins(Seq(200L))
    b3.toDF("vec_id", "embedding", "op").coalesce(1)
      .write.mode("append").parquet(srcDir)
    IvfIndexStream.startCdc(spark, srcDir, idxDir, ckpt)
      .awaitTermination()
    assert(new java.io.File(s"$idxDir/_gen=1/batch=3").isDirectory,
      "post-bump batch must fold under the live generation")
    val withNew = idxSet(IvfIndexStream.index(spark, idxDir))
    assert(withNew.map(_._1) == liveIds + 200L)
    // GC: the newest complete generation supersedes gen-0's root
    // batch dirs and every tombstone ≤ its cover — but the id-8
    // tombstone (batch 2 > cover 1) must SURVIVE, because it was cut
    // after the base and is the only thing retracting id 8's base row
    IvfIndexStream.gc(idxDir)
    def rootDirs(prefix: String) =
      Option(new java.io.File(idxDir).listFiles())
        .getOrElse(Array.empty).filter(_.getName.startsWith(prefix))
        .map(_.getName).sorted
    assert(rootDirs("batch=").isEmpty, "GC left superseded root batches")
    assert(new java.io.File(s"$idxDir/_tombs/batch=2").isDirectory,
      "GC deleted a still-live tombstone")
    assert(idxSet(IvfIndexStream.index(spark, idxDir)) == withNew,
      "GC changed the live index")
    // pre-bump redelivery AFTER gc: gen-0 centroids survive, the
    // republished root dir is ignored by readers, no re-bump
    IvfIndexStream.mergeBatch(idxDir)(
      batches(1).toDF("vec_id", "embedding", "op"), 1L)
    assert(IvfIndexStream.generations(idxDir) == Seq((1L, 1L)))
    assert(idxSet(IvfIndexStream.index(spark, idxDir)) == withNew,
      "post-gc redelivery changed the index")
    // and the stream keeps folding
    ins(Seq(201L)).toDF("vec_id", "embedding", "op").coalesce(1)
      .write.mode("append").parquet(srcDir)
    IvfIndexStream.startCdc(spark, srcDir, idxDir, ckpt)
      .awaitTermination()
    assert(idxSet(IvfIndexStream.index(spark, idxDir)).map(_._1)
      == liveIds + 200L + 201L)
  }

  test("snapshot manifest: a gen-0 pinned reader survives a drift bump + GC; dropping the lease releases the superseded dirs") {
    val spark2 = spark
    import spark2.implicits._
    val srcDir = graft.TestTmp.dir("graft_ivfsnap_src_")
    val idxDir = graft.TestTmp.dir("graft_ivfsnap_idx_")
    val ckpt = graft.TestTmp.dir("graft_ivfsnap_ck_")
    def ins(ids: Seq[Long]) = ids.map(i => (i, vec(i), "I"))
    def deliver(b: Seq[(Long, Array[Float], String)]): Unit = {
      b.toDF("vec_id", "embedding", "op").coalesce(1)
        .write.mode("append").parquet(srcDir)
      IvfIndexStream.startCdc(spark, srcDir, idxDir, ckpt)
        .awaitTermination()
    }
    // batch 0: uniform — no bump; pin the gen-0 world
    deliver(ins(0L until 4L))
    assert(IvfIndexStream.liveGeneration(idxDir) == 0L)
    val m0 = SnapshotManifest.publish(spark, idxDir,
      IvfIndexStream.pin(idxDir))
    assert(IvfIndexStream.pin(idxDir)
      == Map("ivf.gen" -> "0", "ivf.max_batch" -> "0"))
    val world0 = idxSet(IvfIndexStream.index(spark, idxDir))
    // batch 1: skewed — bumps to generation 1, superseding gen-0's
    // root batch dirs; GC must keep them while m0 is live
    deliver(ins((1L to 12L).map(_ * 8L)))
    assert(IvfIndexStream.liveGeneration(idxDir) == 1L)
    IvfIndexStream.gc(idxDir)
    def rootDirs(prefix: String) =
      Option(new java.io.File(idxDir).listFiles())
        .getOrElse(Array.empty).filter(_.getName.startsWith(prefix))
        .map(_.getName).sorted
    assert(rootDirs("batch=").sameElements(
      Array("batch=0", "batch=1")),
      "GC reclaimed gen-0 dirs a live manifest pins")
    // the pinned reader sees the gen-0 world AS OF batch 0 — neither
    // batch 1's vectors nor the gen-1 re-assignment
    assert(idxSet(IvfIndexStream.indexAt(spark, idxDir, m0))
      == world0, "pinned gen-0 reader's world changed under it")
    val live = idxSet(IvfIndexStream.index(spark, idxDir))
    assert(live.map(_._1) ==
      (0L until 4L).toSet ++ (1L to 12L).map(_ * 8L))
    // lease drops: the next GC reclaims the root dirs
    SnapshotManifest.drop(spark, idxDir, m0)
    IvfIndexStream.gc(idxDir)
    assert(rootDirs("batch=").isEmpty,
      "dropped lease did not release gen-0 dirs")
    assert(idxSet(IvfIndexStream.index(spark, idxDir)) == live,
      "GC changed the live index")
  }

  test("publishSnapshot re-resolves a gen-0 pin when a drift bump and a racing GC sweep its dirs") {
    val spark2 = spark
    import spark2.implicits._
    val srcDir = graft.TestTmp.dir("graft_ivfrace_src_")
    val idxDir = graft.TestTmp.dir("graft_ivfrace_idx_")
    val ckpt = graft.TestTmp.dir("graft_ivfrace_ck_")
    def ins(ids: Seq[Long]) = ids.map(i => (i, vec(i), "I"))
    def deliver(b: Seq[(Long, Array[Float], String)]): Unit = {
      b.toDF("vec_id", "embedding", "op").coalesce(1)
        .write.mode("append").parquet(srcDir)
      IvfIndexStream.startCdc(spark, srcDir, idxDir, ckpt)
        .awaitTermination()
    }
    deliver(ins(0L until 4L))
    // inside the publish→verify window: a skewed batch bumps to
    // generation 1, then a GC whose retention-floor listing predates
    // the in-flight manifest (simulated by a manifest root that does
    // not contain it) reclaims the gen-0 root batch dirs the pin needs
    var publishes = 0
    val m = SnapshotManifest.publishVerified(spark, idxDir,
      () => IvfIndexStream.resolvePin(idxDir), { _ =>
        publishes += 1
        if (publishes == 1) {
          deliver(ins((1L to 12L).map(_ * 8L)))
          assert(IvfIndexStream.liveGeneration(idxDir) == 1L)
          IvfIndexStream.gc(idxDir,
            manifestRoot = Some(graft.TestTmp.dir("graft_ivfrace_blind_")))
          assert(Option(new java.io.File(idxDir).listFiles()).get
            .count(_.getName.startsWith("batch=")) == 0)
        }
      })
    // the gen-0 manifest would read an EMPTY index with no error; it
    // was dropped and the pin retried against generation 1
    assert(publishes == 2, s"expected a verify-failure retry, got " +
      s"$publishes publish attempt(s)")
    assert(SnapshotManifest.read(spark, idxDir, m).get.get("ivf.gen")
      .contains("1"))
    val pinned = idxSet(IvfIndexStream.indexAt(spark, idxDir, m))
    assert(pinned == idxSet(IvfIndexStream.index(spark, idxDir)))
    assert(pinned.map(_._1) == (0L until 4L).toSet ++ (1L to 12L).map(_ * 8L))
  }
}
