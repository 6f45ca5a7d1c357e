package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming maintenance of the q265 IVF shard index (design history:
  * SCALE.md, "Maintained index streams"). A
  * production IVF never re-clusters per shard: centroids FREEZE after
  * training and arriving vectors are only ASSIGNED (q265's contract).
  * Given frozen centroids, a vector's cell assignment depends only on
  * its own embedding — per-doc-pure — so the LshIndexStream
  * discipline applies verbatim: each delivered micro-batch's
  * assignment rows publish with overwrite under the batch's
  * STABLE foreachBatch id (`{idxDir}/batch={id}/`), making
  * at-least-once redelivery idempotent with no read-modify-write and
  * no transaction log. The live index is the union of the batch
  * directories. Publications store the VECTOR alongside the
  * assignment (standard IVF posting practice) — that is what makes a
  * retrain self-contained from the index itself, with no lake
  * refetch and no re-insert ambiguity.
  *
  * Generation-0 centroids are part of the artifact: trained
  * (deterministic hash-ordered selection, q265's kernel) from the
  * FIRST delivered non-empty batch and published write-once through
  * [[MarkerProtocol]]. A crash-redelivery of that batch recomputes
  * the SAME centroid set (pure function of the batch) and the marker
  * check makes the republish race-free; later batches only read.
  *
  * CDC batches (op ∈ {I, D}) retract per-row-purely through the
  * shared [[TombstoneSidecar]] — see LshIndexStream.
  *
  * DRIFT-TRIGGERED RETRAIN (the q295 decision as a streaming fold):
  * after folding batch N, the current generation's live occupancy is
  * checked; if the hottest cell exceeds 1.5× the mean (the q295 cut,
  * integer micro-units), generation G+1 trains on the live rows'
  * vectors (same deterministic kernel), re-assigns them as a BASE
  * snapshot, and publishes the whole generation write-once under the
  * underscore-hidden `{idxDir}/_gen=G+1/` (centroids + base + an
  * empty `cover=N` dir, one [[MarkerProtocol]] publish). Assignments
  * carry their generation positionally: batch M folds under the
  * NEWEST COMPLETE generation whose cover < M, which is what makes
  * the bump
  * idempotent — a redelivered batch N re-selects its ORIGINAL
  * generation (cover ≥ N excludes the bumped one), re-publishes its
  * own directory, and the already-complete `_gen=G+1` publish is
  * skipped by the marker check. Reads serve the newest complete
  * generation: base (carrying batch = cover, so later tombstones
  * still kill its rows) ∪ the generation's own batches.
  *
  * StreamingIvfSpec proves: streamed index ≡ batch-built assignment
  * of the accumulated corpus across checkpointed restarts; a
  * redelivered batch is a no-op; centroids train once per
  * generation; CDC deletes retract across generations; a drift bump
  * is exactly-once under redelivery.
  */
object IvfIndexStream {

  private val nCells = 32

  /** The q295 cut: retrain when max cell occupancy ≥ 1.5× mean
    * (integer micro-units — max_n * nCellsTrained * 1e6 div total).
    * Overridable per stream (Long.MaxValue disables retrain — the
    * pure frozen-centroid q265 contract). */
  private[streaming] val defaultDriftThresholdU = 1500000L

  private[streaming] val batchCount =
    new java.util.concurrent.atomic.AtomicLong

  private def asDouble(c: Column): Column =
    transform(c, x => x.cast(DoubleType))
  private def dot(a: Column, b: Column): Column =
    graft.plans.VectorFunctions.dot(a, b)
  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def vecs(df: DataFrame): DataFrame =
    df.select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** Deterministic centroid selection — q265's kernel: hash-ordered
    * first `nCells` vectors of the training frame. The training frame
    * must carry (vec_id, v). */
  private def selectFrom(df: DataFrame): DataFrame =
    df.orderBy(md5(col("vec_id").cast(StringType).cast(BinaryType)),
        col("vec_id"))
      .limit(nCells)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

  private[streaming] def selectCentroids(df: DataFrame): DataFrame =
    selectFrom(vecs(df))

  /** Nearest-centroid assignment (max cosine, min cid tiebreak) over
    * a (vec_id, v) frame — one broadcast-centroid scoring pass, the
    * q59/q265 shape. Output keeps the vector (v) so the index is
    * retrain-self-contained. The struct max is deterministic: ncid is
    * unique within a (vec_id) group, so v (last field) never decides
    * the ordering. */
  private def assignVecs(cents: DataFrame, df: DataFrame): DataFrame =
    df.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), col("v"),
        cosine(col("v"), col("cv")).as("csim"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"),
        (lit(0L) - col("cid")).as("ncid"), col("v"))).as("best"))
      .select(col("vec_id"),
        (lit(0L) - col("best.ncid")).as("cell"),
        round(col("best.csim"), 6).as("csim"),
        col("best.v").as("v"))

  private[streaming] def assignTo(cents: DataFrame,
      df: DataFrame): DataFrame =
    assignVecs(cents, vecs(df))

  private def centroidsPath(idxDir: String) = s"$idxDir/centroids"

  /** Load generation-0 centroids; train-and-publish write-once from
    * `trainFrom` if absent (tmp+marker+rename — concurrent/replayed
    * publishers collapse to one winner; losers read the winner's
    * copy, which is identical because selection is a pure function of
    * the batch). The caller guarantees `trainFrom` is NON-EMPTY (an
    * empty batch 0 must NOT freeze an empty centroid set forever —
    * mergeBatch defers training to the first
    * non-empty batch); a training frame smaller than nCells still
    * publishes (assignment to the nearest of what exists is
    * well-defined) but is logged, because an undersized cell count
    * degrades recall at scale. */
  private[streaming] def centroids(s: SparkSession, idxDir: String,
      trainFrom: => DataFrame): DataFrame = {
    // write-once through the shared marker protocol (the trainFrom
    // thunk is only forced when no complete centroid set exists)
    MarkerProtocol.publish(s, centroidsPath(idxDir),
      overwrite = false) { tmp =>
      val picked = selectCentroids(trainFrom).localCheckpoint()
      val n = picked.count()
      if (n == 0)
        throw new IllegalStateException(
          "IVF centroid training frame is empty — caller must defer " +
            "training to the first non-empty batch")
      if (n < nCells)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"IVF centroids trained from only $n vectors (< $nCells " +
            "cells) — recall will be degraded until a retrain")
      picked.write.mode("append").parquet(tmp.toString)
      true
    }
    // the completeness marker is underscore-prefixed, which Spark's
    // file index treats as hidden — the plain read skips it
    s.read.parquet(centroidsPath(idxDir)).select(col("cid"), col("cv"))
  }

  // ------------------------------------------------------------------
  // centroid generations (drift-triggered retrain)
  // ------------------------------------------------------------------

  /** Complete generations, ascending: (gen, cover). Generation 0 (the
    * legacy layout at the idxDir root) is implicit with cover = -1
    * and is NOT listed here. */
  private[streaming] def generations(idxDir: String): Seq[(Long, Long)] =
    MarkerProtocol.versions(idxDir, "_gen=", completeOnly = true)
      .map { g =>
        g -> MarkerProtocol.versions(s"$idxDir/_gen=$g", "cover=")
          .headOption.getOrElse(sys.error(s"generation $g has no cover"))
      }

  /** The generation a given batch folds under: the newest COMPLETE
    * generation whose base covers strictly OLDER batches (cover <
    * batchId) — so a redelivered batch re-selects its original
    * generation even after a later bump. Returns (gen, batchRoot,
    * centroidsPath); gen 0 is the legacy root layout. */
  private def genFor(idxDir: String, batchId: Long)
      : (Long, String, String) =
    generations(idxDir).filter(_._2 < batchId).lastOption match {
      case Some((g, _)) =>
        (g, s"$idxDir/_gen=$g", s"$idxDir/_gen=$g/centroids")
      case None => (0L, idxDir, centroidsPath(idxDir))
    }

  /** The newest complete generation for READS (no batch restriction). */
  private def newestGen(idxDir: String): Option[(Long, Long)] =
    generations(idxDir).lastOption

  private def batchesUnder(root: String): Seq[Long] =
    MarkerProtocol.versions(root, "batch=", completeOnly = true)

  private def genRoot(idxDir: String, gen: Long): String =
    if (gen == 0L) idxDir else s"$idxDir/_gen=$gen"

  /** Live rows (vec_id, cell, csim, v, batch) of one generation as of
    * `maxBatch` (Long.MaxValue = now): base snapshot (batch = cover —
    * tombstones newer than the cover still kill its rows) ∪ the
    * generation's own batch publications, minus tombstones up to
    * `maxBatch`. */
  private def genView(spark: SparkSession, idxDir: String, gen: Long,
      cover: Long, maxBatch: Long): DataFrame = {
    val root = genRoot(idxDir, gen)
    val dirs = batchesUnder(root).filter(_ <= maxBatch)
      .map(v => s"$root/batch=$v")
    val batchRows =
      if (dirs.isEmpty) None
      else Some(spark.read.option("basePath", root)
        .parquet(dirs.toIndexedSeq: _*)
        .select(col("vec_id"), col("cell"), col("csim"), col("v"),
          col("batch").cast(LongType).as("batch")))
    val baseRows =
      if (gen == 0L) None
      else Some(spark.read.parquet(s"$idxDir/_gen=$gen/base")
        .select(col("vec_id"), col("cell"), col("csim"), col("v"),
          lit(cover).as("batch")))
    (baseRows ++ batchRows).reduceOption(_.unionByName(_)) match {
      case None => emptyIndex(spark)
      case Some(rows) =>
        TombstoneSidecar.apply(rows,
          TombstoneSidecar.newestUpTo(spark, idxDir, "vec_id", maxBatch))
    }
  }

  /** The q295 drift cut over a live view's occupancy — one scalar
    * pull (the q265 "1-row argmax" discipline). `nCellsTrained` is
    * the generation's trained centroid count (q295 uses the same),
    * so empty cells COUNT toward the mean — a hot cell among mostly
    * empty ones is exactly the drift signal. A deployment that
    * cannot afford the per-batch occupancy scan would maintain the
    * per-cell counters as running state; the scan here reads only
    * (vec_id, cell, batch) — column-pruned off the posting files. */
  private def skewU(view: DataFrame, nCellsTrained: Long): Long =
    view.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(expr(s"(max(n) * $nCellsTrained * 1000000) div sum(n)"))
      .head() match {
        case r if r.isNullAt(0) => 0L // empty view
        case r => r.getLong(0)
      }

  /** Write-once generation bump: train gen+1 on the live view's own
    * vectors (the index stores them — self-contained), re-assign them
    * as the base snapshot, publish atomically with the cover id. A
    * concurrent/replayed publisher hits the marker check and skips. */
  private def bumpGeneration(spark: SparkSession, idxDir: String,
      fromGen: Long, cover: Long, view: DataFrame): Unit = {
    val g1 = fromGen + 1
    // write-once through the shared marker protocol; the callback
    // aborts (false) when the retrain frame is empty — nothing to
    // train on, keep the current generation
    MarkerProtocol.publish(spark, s"$idxDir/_gen=$g1",
      overwrite = false) { tmp =>
      val live = view.select(col("vec_id"), col("v")).localCheckpoint()
      val cents = selectFrom(live).localCheckpoint()
      if (cents.isEmpty) false
      else {
        cents.write.parquet(s"$tmp/centroids")
        assignVecs(cents, live).write.parquet(s"$tmp/base")
        tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(tmp, s"cover=$cover"))
      }
    }
    ()
  }

  /** Idempotent per-batch fold: assignments of THIS batch only,
    * overwrite-published under the batch's stable id, under the
    * generation the batch belongs to. An EMPTY insert set publishes
    * no batch directory — in particular it never trains centroids (a
    * stream started before the lake has data must not freeze an
    * empty/degenerate centroid set). After the fold,
    * the drift cut runs on the generation's live view AS OF this
    * batch (deterministic under redelivery) and may bump a
    * generation, write-once. */
  private[streaming] def mergeBatch(idxDir: String,
      thresholdU: Long = defaultDriftThresholdU)(
      batch: DataFrame, batchId: Long): Unit = {
    batchCount.incrementAndGet()
    val s = batch.sparkSession
    val hasOp = batch.columns.contains("op")
    val b = vecs(if (hasOp)
        batch.filter(col("op").isNull || col("op") === "I")
          .select(col("vec_id"), col("embedding"))
      else batch).localCheckpoint()
    val (gen, root, centsPath) = genFor(idxDir, batchId)
    if (!b.isEmpty) {
      val cents =
        if (gen == 0L)
          centroids(s, idxDir, b.select(col("vec_id"),
            col("v").as("embedding")))
        else s.read.parquet(centsPath).select(col("cid"), col("cv"))
      MarkerProtocol.replace(assignVecs(cents, b), s"$root/batch=$batchId")
    }
    // CDC deletes: vec_id tombstones to the shared sidecar — an
    // assignment row depends only on its own vector (frozen
    // centroids), so retraction is read-side per-row-pure exactly
    // like the LSH signatures
    TombstoneSidecar.publish(batch, idxDir, "vec_id", batchId)
    // drift cut on this generation's live view as of THIS batch —
    // pure function of (lake ≤ batchId), so a redelivery recomputes
    // the same decision and the write-once publish makes it a no-op
    if (thresholdU < Long.MaxValue) {
      val cover = if (gen == 0L) -1L
        else generations(idxDir).find(_._1 == gen).map(_._2)
          .getOrElse(-1L)
      val view = genView(s, idxDir, gen, cover, batchId)
      if (!view.isEmpty) {
        val nCellsTrained = s.read.parquet(centsPath).count()
        if (skewU(view, nCellsTrained) >= thresholdU)
          bumpGeneration(s, idxDir, gen, batchId, view)
      }
    }
    ()
  }

  def start(spark: SparkSession, srcDir: String, idxDir: String,
      checkpoint: String,
      driftThresholdU: Long = defaultDriftThresholdU): StreamingQuery =
    FoldStream.start(spark, srcDir,
      "vec_id LONG, embedding ARRAY<FLOAT>, label LONG", checkpoint,
      mergeBatch(idxDir, driftThresholdU))

  /** CDC variant of [[start]]: rows carry op ∈ {I, D}. Deletes
    * tombstone vec_ids via the shared [[TombstoneSidecar]]; the live
    * index hides every assignment row the newest covering tombstone
    * retracts. */
  def startCdc(spark: SparkSession, srcDir: String, idxDir: String,
      checkpoint: String,
      driftThresholdU: Long = defaultDriftThresholdU): StreamingQuery =
    FoldStream.start(spark, srcDir,
      "vec_id LONG, embedding ARRAY<FLOAT>, op STRING", checkpoint,
      mergeBatch(idxDir, driftThresholdU))

  private def emptyIndex(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("cell", LongType),
        StructField("csim", DoubleType),
        StructField("v", ArrayType(DoubleType)),
        StructField("batch", LongType))))

  /** The live index (vec_id, cell, csim): the newest complete
    * generation's base ∪ its batches, minus the tombstone sidecar's
    * retractions; empty before any batch has published (mirrors
    * ClusterIndexStream.labels' empty-state handling). */
  def index(spark: SparkSession, idxDir: String): DataFrame = {
    val view = newestGen(idxDir) match {
      case Some((g, cover)) =>
        genView(spark, idxDir, g, cover, Long.MaxValue)
      case None => genView(spark, idxDir, 0L, -1L, Long.MaxValue)
    }
    view.select("vec_id", "cell", "csim")
  }

  /** The live generation id (0 until the first drift bump). */
  def liveGeneration(idxDir: String): Long =
    newestGen(idxDir).map(_._1).getOrElse(0L)

  /** GC — the compaction analog for the generation layout (a bump
    * already consolidates the live rows into its base snapshot):
    * through [[Retention]], reclaim what the floor generation
    * supersedes — older `_gen=G` dirs, root (gen-0) batch dirs and
    * tombstones ≤ its cover (base rows carry batch = cover, so only
    * NEWER tombstones can still retract). The floor generation is the
    * newest complete one, or the least `ivf.gen` a live
    * [[SnapshotManifest]] at `manifestRoot` (default: this index dir)
    * pins; a manifest without a gen pinned gen 0, which covers
    * nothing. Gen-0 centroids stay (a pre-bump redelivery re-reads
    * them); a redelivered pre-bump batch republishes a root dir
    * readers skip, which the next GC takes. Reclaims no version
    * before the first bump. */
  def gc(idxDir: String, manifestRoot: Option[String] = None): Unit =
    Retention.gc(manifestRoot.getOrElse(idxDir), "ivf.gen", 0L,
      idxDir -> "_gen=") { floor =>
      val gens = generations(idxDir)
      gens.lastOption.toSeq.flatMap { case (g, _) =>
        val keep = floor.fold(g)(math.min(g, _))
        // gen 0 covers nothing (-1), so a gen-0 pin keeps every batch
        val cover = gens.toMap.getOrElse(keep, -1L)
        Seq((idxDir, "_gen=", (_: Long) < keep),
          (idxDir, "batch=", (_: Long) <= cover),
          (s"$idxDir/_tombs", "batch=", (_: Long) <= cover))
      }
    }

  /** This index's version tokens for a [[SnapshotManifest]] pin:
    * `ivf.gen` (live generation) and `ivf.max_batch` (the newest
    * batch published under it). */
  def pin(idxDir: String): Map[String, String] = {
    val g = liveGeneration(idxDir)
    val maxBatch = batchesUnder(genRoot(idxDir, g)).lastOption
      .getOrElse(-1L)
    Map("ivf.gen" -> g.toString, "ivf.max_batch" -> maxBatch.toString)
  }

  /** [[pin]] plus the dirs it needs: generation G's `_gen=G` tree
    * (G > 0) and its batch dirs ≤ max_batch. */
  private[streaming] def resolvePin(idxDir: String)
      : (Map[String, String], Seq[String]) = {
    val p = pin(idxDir)
    val root = genRoot(idxDir, p("ivf.gen").toLong)
    (p, Seq(root).filter(_ != idxDir) ++
      batchesUnder(root).filter(_ <= p("ivf.max_batch").toLong)
        .map(b => s"$root/batch=$b"))
  }

  /** Publish a snapshot manifest pinning the live generation under
    * `manifestRoot` (default: the index dir), re-resolved against a
    * racing [[gc]] (see [[SnapshotManifest.publishVerified]]).
    * Returns the manifest id a reader passes to [[indexAt]]. */
  def publishSnapshot(spark: SparkSession, idxDir: String,
      manifestRoot: Option[String] = None): Long =
    SnapshotManifest.publishVerified(spark,
      manifestRoot.getOrElse(idxDir), () => resolvePin(idxDir))

  /** The index AS OF manifest `id` (see LshIndexStream.indexAt): the
    * pinned generation's view at the pinned batch frontier — immune
    * to concurrent folds, bumps, and (because [[gc]] floors at the
    * oldest live manifest) to concurrent GC. */
  def indexAt(spark: SparkSession, idxDir: String, id: Long,
      manifestRoot: Option[String] = None): DataFrame = {
    val pins = SnapshotManifest.pinned(spark,
      manifestRoot.getOrElse(idxDir), id, "ivf.")
    val g = pins.get("ivf.gen").map(_.toLong).getOrElse(0L)
    val cover =
      if (g == 0L) -1L
      else generations(idxDir).find(_._1 == g).map(_._2)
        .getOrElse(throw new IllegalStateException(
          s"manifest=$id pins ivf.gen=$g but the generation is gone — " +
            "was GC run against a different manifest root?"))
    val maxBatch = pins.get("ivf.max_batch").map(_.toLong)
      .getOrElse(Long.MaxValue)
    genView(spark, idxDir, g, cover, maxBatch)
      .select("vec_id", "cell", "csim")
  }

  /** Per-cell occupancy off the maintained index — the q265 summary
    * grain, for drift watching. */
  def cells(spark: SparkSession, idxDir: String): DataFrame =
    index(spark, idxDir)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("csim").cast(DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1)), 6).as("mean_csim"))
      .orderBy(col("cell"))
}
