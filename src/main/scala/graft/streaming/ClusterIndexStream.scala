package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.TextOps
import graft.operators.ClusterIndexQueries

/** Streaming maintenance of the q284 cluster-label artifact: each
  * micro-batch of documents folds into the standing (signatures,
  * labels) state through the SAME [[ClusterIndexQueries.mergeCore]]
  * the batch shard merge runs — only the batch's new contents are
  * shingled, only the candidate contact set of old contents is
  * re-shingled (fetched back from the accumulated source lake by
  * content hash), and only touched components re-label.
  *
  * Exactly-once: unlike the per-doc-pure q276 signatures
  * (LshIndexStream, where per-batch OVERWRITE publication suffices),
  * labels are a READ-MODIFY-WRITE over prior state — so the state is
  * VERSIONED BY BATCH ID: state(N) is computed from state(N−1) and
  * published under `{stateDir}/batch=N/{sigs,labels}` through
  * [[MarkerProtocol]] — readers only ever see complete versions, so
  * a crash between the two parquet writes can never surface a
  * half-written state. A
  * crash-redelivery of batch N re-reads the untouched state(N−1) and
  * republishes its own version directory — idempotent with no
  * transaction log, because foreachBatch batchIds are stable and
  * dense from one checkpoint. StreamingClusterIndexSpec proves
  * streamed labels ≡ ClusterIndexQueries.fromScratchLabels of the
  * accumulated corpus across checkpointed restarts, and that a
  * redelivered batch is a no-op.
  */
object ClusterIndexStream {

  private def emptySigs(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("h", StringType),
        StructField("band_idx", LongType),
        StructField("bh", StringType))))

  private def emptyLabels(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("h", StringType),
        StructField("lbl", StringType))))

  private def emptyMemb(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("h", StringType))))

  /** Published versions, ascending: a version dir counts ONLY once
    * complete, so a crash between the sigs and labels parquet writes
    * (or mid-write) leaves a version that every reader skips. */
  private def completeVersions(stateDir: String): Seq[Long] =
    MarkerProtocol.versions(stateDir, "batch=", completeOnly = true)

  private def readState(s: SparkSession, stateDir: String,
      batchId: Long): (DataFrame, DataFrame, DataFrame) =
    if (batchId < 0) (emptySigs(s), emptyLabels(s), emptyMemb(s))
    else (s.read.parquet(s"$stateDir/batch=$batchId/sigs"),
      s.read.parquet(s"$stateDir/batch=$batchId/labels"),
      s.read.parquet(s"$stateDir/batch=$batchId/memb"))

  /** Insert rows of a batch or lake frame: rows with no `op` column,
    * or op = 'I' (CDC sources carry op ∈ {I, D}; plain document
    * streams carry none). */
  private def inserts(df: DataFrame): DataFrame =
    if (df.columns.contains("op"))
      df.filter(col("op").isNull || col("op") === "I")
        .select(col("doc_id"), col("text"))
    else df.select(col("doc_id"), col("text"))

  /** Content groups (h, sh, n) of a raw (doc_id, text) frame — the
    * q284 grain, no corpus planting (streams carry real docs). */
  private def groupsOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("nt", TextOps.norm(col("text")))
      .filter(col("nt").isNotNull)
      .select(md5(col("nt")).as("h"), col("nt"))
      .repartition(col("h"))
      .groupBy(col("h")).agg(min(col("nt")).as("nt"))
      .withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
      .withColumn("n", size(col("sh")).cast(LongType))
      .drop("nt")

  /** (doc_id, h) membership rows of an insert frame. */
  private def membOf(docs: DataFrame): DataFrame =
    docs.withColumn("nt", TextOps.norm(col("text")))
      .filter(col("nt").isNotNull)
      .select(col("doc_id"), md5(col("nt")).as("h"))

  /** Fold one delivered batch into versioned state — idempotent under
    * redelivery of the same batchId. `srcDir` is the accumulated
    * source lake, read back ONLY for candidate-contact and
    * touched-survivor re-shingles. Batches may carry an `op` column
    * (CDC): inserts apply first, deletes last — end-of-batch snapshot
    * semantics. A doc-grain delete retracts its CONTENT only when no
    * member doc survives, decided entirely from the maintained
    * (doc_id, h) memb state part — the lake is never re-hashed. */
  private[streaming] def mergeBatch(srcDir: String, stateDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val (oldSigs, oldLabels, oldMemb) =
      readState(s, stateDir, batchId - 1)
    val lakeGrpFor = (candH: DataFrame) =>
      groupsOf(inserts(s.read.parquet(srcDir)))
        .join(candH, Seq("h"), "left_semi")
    val ins = inserts(batch).localCheckpoint()
    // The accumulated lake already contains the just-delivered batch;
    // mergeCore anti-joins the contact set against its own new-content
    // hashes before this fetch runs, so new contents are shingled
    // once, in newGrp — not a second time through the lake read (the
    // filter lives in mergeCore because the batch may ALSO carry exact
    // dups of OLD contents, whose shingles genuinely must come from
    // this fetch)
    val (sigs1, labels1) =
      if (ins.isEmpty) (oldSigs.localCheckpoint(),
        oldLabels.localCheckpoint())
      else ClusterIndexQueries.mergeCore(
        oldSigs.localCheckpoint(), oldLabels.localCheckpoint(),
        groupsOf(ins), lakeGrpFor)
    val memb1 = oldMemb.unionByName(membOf(ins)).distinct()
    val delIds =
      if (batch.columns.contains("op"))
        batch.filter(col("op") === "D").select(col("doc_id")).distinct()
          .localCheckpoint()
      else emptyMemb(s).select(col("doc_id"))
    val memb2 = memb1.join(delIds, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // content grain: retracted iff every member doc is gone; the
    // decision reads only the memb state part, never the lake
    val delH = memb1.join(delIds, Seq("doc_id"), "left_semi")
      .select(col("h"))
      .join(memb2.select(col("h")), Seq("h"), "left_anti")
      .distinct()
    // pure-insert batches (or deletes that retract no content) skip
    // the delete path entirely — no extra lake pass
    val (sigs, labels) =
      if (delIds.isEmpty || delH.isEmpty) (sigs1, labels1)
      else ClusterIndexQueries.delCore(
        sigs1.localCheckpoint(), labels1.localCheckpoint(),
        delH, lakeGrpFor)
    // Publish version batchId atomically through the shared marker
    // protocol (overwrite mode: a redelivered batch N supersedes its
    // own previous publication; MarkerProtocol clears this batch's
    // crash debris and throws if the rename loses state). A crash at
    // any point leaves either the intact predecessor as the newest
    // complete version (readers skip marker-less debris) or the
    // fully-published version.
    MarkerProtocol.publish(s, s"$stateDir/batch=$batchId",
      overwrite = true) { tmp =>
      sigs.write.parquet(s"$tmp/sigs")
      labels.write.parquet(s"$tmp/labels")
      memb2.write.parquet(s"$tmp/memb")
      true
    }
    ()
  }

  def start(spark: SparkSession, srcDir: String, stateDir: String,
      checkpoint: String): StreamingQuery =
    FoldStream.start(spark, srcDir, "doc_id LONG, text STRING",
      checkpoint, mergeBatch(srcDir, stateDir))

  /** CDC variant of [[start]]: rows carry op ∈ {I, D}. 'I' rows fold
    * in through mergeCore; 'D' rows tombstone doc_ids, folding to
    * content-grain retraction through [[ClusterIndexQueries.delCore]]
    * when the last member doc goes (a retraction can SPLIT a standing
    * component — the spec proves streamed ≡ from-scratch over the
    * NET corpus, inserts minus deletes, across restarts). */
  def startCdc(spark: SparkSession, srcDir: String, stateDir: String,
      checkpoint: String): StreamingQuery =
    FoldStream.start(spark, srcDir, "doc_id LONG, text STRING, op STRING",
      checkpoint, mergeBatch(srcDir, stateDir))

  /** State retention (the q285 checkpoint-truncate contract, applied
    * to the versioned stream state): drop all versions older than the
    * newest `keep`. Safe floor is keep = 2 — the latest version
    * serves reads, and a crash-redelivery of the latest batchId needs
    * its PREDECESSOR intact; anything older is only history. Only
    * complete versions count toward `keep`. StreamingClusterIndexSpec
    * proves reads and redelivery survive a prune to that floor.
    * Additionally bounded below by the live [[SnapshotManifest]]s at
    * `manifestRoot` (default: the state dir) — a manifest pinning
    * `cluster.version=V` keeps version V until it drops. Debris goes
    * by [[Retention]]'s sweep, staging dirs once older than
    * `tmpGraceMs`. */
  def pruneVersions(stateDir: String, keep: Int = 2,
      tmpGraceMs: Long = Retention.GraceMs,
      manifestRoot: Option[String] = None): Unit =
    Retention.gc(manifestRoot.getOrElse(stateDir), "cluster.version", -1L,
      stateDir -> "batch=", tmpGraceMs) { pinned =>
      val keepFloor = completeVersions(stateDir).dropRight(keep.max(2))
        .lastOption.map(f => pinned.fold(f)(p => math.min(f, p - 1)))
      Seq((stateDir, "batch=", v => keepFloor.exists(v <= _)))
    }

  /** The live labels: the HIGHEST COMPLETE batch version. */
  def labels(spark: SparkSession, stateDir: String): DataFrame =
    completeVersions(stateDir).lastOption match {
      case Some(b) => spark.read.parquet(s"$stateDir/batch=$b/labels")
      case None => emptyLabels(spark)
    }

  /** This state's version token for a [[SnapshotManifest]] pin. */
  def pin(stateDir: String): Map[String, String] =
    Map("cluster.version" ->
      completeVersions(stateDir).lastOption.getOrElse(-1L).toString)

  /** [[pin]] plus the version dir it needs. */
  private[streaming] def resolvePin(stateDir: String)
      : (Map[String, String], Seq[String]) = {
    val p = pin(stateDir)
    (p, Seq(p("cluster.version").toLong).filter(_ >= 0)
      .map(v => s"$stateDir/batch=$v"))
  }

  /** Publish a snapshot manifest pinning the current version under
    * `manifestRoot` (default: the state dir), re-resolved against a
    * racing [[pruneVersions]] (see
    * [[SnapshotManifest.publishVerified]]). Returns the manifest id a
    * reader passes to [[labelsAt]]. */
  def publishSnapshot(spark: SparkSession, stateDir: String,
      manifestRoot: Option[String] = None): Long =
    SnapshotManifest.publishVerified(spark,
      manifestRoot.getOrElse(stateDir), () => resolvePin(stateDir))

  /** Labels AS OF manifest `id` — the versioned-state analog of
    * LshIndexStream.indexAt (versioned state makes this trivial: one
    * version dir IS the whole world). */
  def labelsAt(spark: SparkSession, stateDir: String, id: Long,
      manifestRoot: Option[String] = None): DataFrame =
    SnapshotManifest.pinned(spark, manifestRoot.getOrElse(stateDir), id,
      "cluster.").get("cluster.version").map(_.toLong) match {
      case Some(v) if v >= 0 =>
        spark.read.parquet(s"$stateDir/batch=$v/labels")
      case _ => emptyLabels(spark)
    }
}
