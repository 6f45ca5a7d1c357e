package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming maintenance of the q276 banded-signature index (design
  * history: SCALE.md, "Maintained index streams"): the batch merge path
  * (LshIndexQueries.mergedIndex) is proven; this wires the SAME
  * signature kernel through foreachBatch so an arriving micro-batch
  * of documents folds into the maintained index with EXACTLY-ONCE
  * semantics — history batches are never re-shingled, and a crashed
  * batch that foreachBatch redelivers lands idempotently.
  *
  * Exactly-once recipe (the standard idempotent-sink discipline, and
  * the reason the artifact is laid out per batch): foreachBatch gives
  * at-least-once delivery with a STABLE batchId, so each batch's
  * signature rows are published through [[MarkerProtocol]] with
  * overwrite into `{idxDir}/batch={batchId}/` — a replay of batch N
  * replaces batch N's own directory instead of appending duplicates,
  * and every other batch's rows are untouched. The live index is the
  * union of the batch directories (partition-discovered read).
  * StreamingLshIndexSpec proves: (a) across checkpointed restarts
  * the index equals the batch-built signatures of the full corpus,
  * (b) a redelivered batch is a no-op, (c) signatures are computed
  * once per batch — never over history.
  *
  * A signature row depends only on its own document (the q276
  * merge-equivalence fact), so per-batch publication IS the index
  * merge — no read-modify-write on the standing artifact, which is
  * what makes the sink idempotent without a transaction log. */
object LshIndexStream {

  /** Visible-for-test batch counter: proves history is never
    * re-signed (one increment per delivered batch, replays included —
    * the spec asserts the INDEX stays fixed under replay while the
    * counter moves, i.e. idempotency comes from the sink layout, not
    * from skipped work). */
  private[streaming] val batchCount =
    new java.util.concurrent.atomic.AtomicLong

  /** Idempotent per-batch merge: signatures of THIS batch only,
    * overwrite-published under the batch's stable id. Batches may
    * carry an `op` column (CDC, op ∈ {I, D}): insert rows sign as
    * usual; delete rows publish doc_id TOMBSTONES under the
    * underscore-hidden `_tombs/batch=N` sidecar (invisible to the
    * parent partition-discovery read), also overwrite-idempotent.
    * Signatures are per-doc-pure, so retraction needs no component
    * algebra — the read side anti-joins (the ClusterIndexStream
    * op∈{I,D} discipline, minus the versioned state a
    * read-modify-write artifact needs). */
  private[streaming] def mergeBatch(idxDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    batchCount.incrementAndGet()
    val hasOp = batch.columns.contains("op")
    val ins =
      if (hasOp) batch.filter(col("op").isNull || col("op") === "I")
        .select(col("doc_id"), col("text"))
      else batch
    MarkerProtocol.replace(graft.operators.LshIndexQueries.signatures(ins),
      s"$idxDir/batch=$batchId")
    TombstoneSidecar.publish(batch, idxDir, "doc_id", batchId)
  }

  /** Maintain the index at `idxDir` from a documents directory
    * stream; AvailableNow drains what exists and stops (the S3/q43
    * harness discipline). */
  def start(spark: SparkSession, srcDir: String, idxDir: String,
      checkpoint: String): StreamingQuery =
    FoldStream.start(spark, srcDir, "doc_id LONG, text STRING",
      checkpoint, mergeBatch(idxDir))

  /** CDC variant of [[start]]: rows carry op ∈ {I, D}. Deletes
    * tombstone doc_ids; the live index hides every signature row the
    * newest covering tombstone retracts (see [[index]]). */
  def startCdc(spark: SparkSession, srcDir: String, idxDir: String,
      checkpoint: String): StreamingQuery =
    FoldStream.start(spark, srcDir, "doc_id LONG, text STRING, op STRING",
      checkpoint, mergeBatch(idxDir))

  private def batches(idxDir: String): Seq[Long] =
    MarkerProtocol.versions(idxDir, "batch=", completeOnly = true)

  /** Complete compaction bases, ascending by their upTo batch id. */
  private def bases(idxDir: String): Seq[Long] =
    MarkerProtocol.versions(idxDir, "_base=", completeOnly = true)

  /** Live rows with their publication batch id: the newest complete
    * compaction base (rows carry batch = upTo — a tombstone NEWER
    * than the base still kills them; everything ≤ upTo was already
    * applied when the base was cut) ∪ the batch publications newer
    * than it, minus the sidecar's retractions. A pinned view
    * ([[indexAt]]) passes an explicit (base, maxBatch) world instead
    * of resolving the newest one. */
  private def liveRows(spark: SparkSession, idxDir: String,
      pinBase: Option[Option[Long]] = None,
      maxBatch: Long = Long.MaxValue): DataFrame = {
    val base = pinBase.getOrElse(bases(idxDir).lastOption)
    val floor = base.getOrElse(Long.MinValue)
    val dirs = batches(idxDir).filter(v => v > floor && v <= maxBatch)
      .map(v => s"$idxDir/batch=$v")
    val batchRows =
      if (dirs.isEmpty) None
      else Some(spark.read.option("basePath", idxDir)
        .parquet(dirs.toIndexedSeq: _*)
        .select(col("doc_id"), col("h"), col("band_idx"), col("bh"),
          col("batch").cast(LongType).as("batch")))
    val baseRows = base.map(u =>
      spark.read.parquet(s"$idxDir/_base=$u")
        .select(col("doc_id"), col("h"), col("band_idx"), col("bh"),
          lit(u).as("batch")))
    val rows = (baseRows ++ batchRows).reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("h", StringType),
          StructField("band_idx", LongType),
          StructField("bh", StringType),
          StructField("batch", LongType)))))
    TombstoneSidecar.apply(rows,
      TombstoneSidecar.newestUpTo(spark, idxDir, "doc_id", maxBatch))
  }

  /** The live index: newest compaction base ∪ newer batch
    * publications, minus everything the tombstone sidecar retracts. */
  def index(spark: SparkSession, idxDir: String): DataFrame =
    liveRows(spark, idxDir).select("doc_id", "h", "band_idx", "bh")

  /** This index's version tokens for a [[SnapshotManifest]] pin:
    * `lsh.max_batch` (the newest published batch) and `lsh.base`
    * (the newest complete compaction base, when one exists). An
    * index with no publications at all pins only its emptiness
    * (`lsh.max_batch=-1`). */
  def pin(idxDir: String): Map[String, String] = {
    val maxBatch = batches(idxDir).lastOption
    val base = bases(idxDir).lastOption
    Map("lsh.max_batch" ->
      maxBatch.orElse(base).getOrElse(-1L).toString) ++
      base.map(b => "lsh.base" -> b.toString)
  }

  /** Publish a snapshot manifest pinning this index's current
    * version under `manifestRoot` (default: the index dir itself),
    * re-resolved against a racing [[compact]] (see
    * [[SnapshotManifest.publishVerified]]). Returns the manifest id a
    * reader passes to [[indexAt]]. */
  def publishSnapshot(spark: SparkSession, idxDir: String,
      manifestRoot: Option[String] = None): Long =
    publishSnapshotHooked(spark, idxDir, manifestRoot, _ => ())

  /** [[publishSnapshot]] with the post-publish test hook of
    * [[SnapshotManifest.publishVerified]]. */
  private[streaming] def publishSnapshotHooked(spark: SparkSession,
      idxDir: String, manifestRoot: Option[String],
      afterPublish: Long => Unit): Long =
    SnapshotManifest.publishVerified(spark, manifestRoot.getOrElse(idxDir),
      () => resolvePin(idxDir), afterPublish)

  /** [[pin]] plus the dirs it needs: the base, and every batch dir in
    * (base, max_batch]. */
  private[streaming] def resolvePin(idxDir: String)
      : (Map[String, String], Seq[String]) = {
    val p = pin(idxDir)
    val base = p.get("lsh.base").map(_.toLong)
    (p, base.map(b => s"$idxDir/_base=$b").toSeq ++ batches(idxDir)
      .filter(b => b > base.getOrElse(-1L) && b <= p("lsh.max_batch").toLong)
      .map(b => s"$idxDir/batch=$b"))
  }

  /** The index AS OF manifest `id`: resolves (base, max_batch)
    * through the pinned manifest instead of the newest dirs, so a
    * long-running reader is immune to concurrent folds AND — because
    * [[compact]]'s GC floors at the oldest live manifest — to
    * concurrent compaction reclaiming its input dirs. */
  def indexAt(spark: SparkSession, idxDir: String, id: Long,
      manifestRoot: Option[String] = None): DataFrame = {
    val pins = SnapshotManifest.pinned(spark,
      manifestRoot.getOrElse(idxDir), id, "lsh.")
    liveRows(spark, idxDir,
      pinBase = Some(pins.get("lsh.base").map(_.toLong)),
      maxBatch = pins.get("lsh.max_batch").map(_.toLong)
        .getOrElse(Long.MaxValue))
      .select("doc_id", "h", "band_idx", "bh")
  }

  /** COMPACTION — the maintenance pass a deployment runs when
    * tombstones and dead batch dirs accumulate: materialize the live
    * index as of the newest published batch into a write-once,
    * underscore-hidden `_base=<upTo>` snapshot through
    * [[MarkerProtocol]], then reclaim through [[Retention]] what the
    * base supersedes — batch and tombstone dirs ≤ upTo, and older
    * bases — floored at the live [[SnapshotManifest]]s at
    * `manifestRoot` (default: this index dir). Idempotent: a re-run
    * with no newer batches hits the marker check and only re-runs the
    * (safe-anytime) GC; a redelivered pre-compaction batch
    * republishes a dir readers ignore (its id is ≤ upTo), which the
    * next compaction removes. Returns the base's upTo id, or None
    * when there is nothing to compact. */
  def compact(spark: SparkSession, idxDir: String,
      manifestRoot: Option[String] = None): Option[Long] = {
    val newest = batches(idxDir).lastOption
    val upTo = newest.orElse(bases(idxDir).lastOption)
      .getOrElse(return None)
    // write-once through the shared marker protocol: a concurrent or
    // replayed compaction collapses to one winner
    MarkerProtocol.publish(spark, s"$idxDir/_base=$upTo",
      overwrite = false) { tmp =>
      liveRows(spark, idxDir)
        .select(col("doc_id"), col("h"), col("band_idx"), col("bh"))
        .write.mode("append").parquet(tmp.toString)
      true
    }
    // GC: everything the base supersedes, bounded below by the base
    // a live manifest pins; a manifest pinned before any compaction
    // (no lsh.base) floors at -1, since it reads the raw batches
    Retention.gc(manifestRoot.getOrElse(idxDir), "lsh.base", -1L,
      idxDir -> "_base=") { floor =>
      val keep = floor.fold(upTo)(math.min(upTo, _))
      Seq((idxDir, "batch=", _ <= keep),
        (s"$idxDir/_tombs", "batch=", _ <= keep),
        (idxDir, "_base=", _ < keep))
    }
    Some(upTo)
  }
}

/** The tombstone sidecar shared by the per-row-pure maintained
  * indexes (LshIndexStream signatures, IvfIndexStream assignments):
  * CDC deletes publish (id) rows under the
  * underscore-hidden `{idxDir}/_tombs/batch=N` — invisible to the
  * parent partition-discovery read, overwrite-idempotent under
  * redelivery exactly like the data batches — and the read side
  * hides every data row whose id has a tombstone in a batch ≥ the
  * row's own. MAX per id is the whole retraction state: a tombstone
  * at T retracts rows from every batch ≤ T (same-batch I+D is
  * end-of-batch-snapshot — delete wins), and a RE-INSERT in a later
  * batch survives on its larger batch id alone. No component
  * algebra, no versioned state: per-row-pure artifacts compose
  * retraction from an equi-join + filter (a plain hash join at
  * scale, never pairwise). */
private[streaming] object TombstoneSidecar {

  /** Publish the `idCol` tombstones of a batch's delete rows, if it
    * carries an `op` column. */
  def publish(batch: DataFrame, idxDir: String, idCol: String,
      batchId: Long): Unit =
    if (batch.columns.contains("op"))
      MarkerProtocol.replace(batch.filter(col("op") === "D")
        .select(col(idCol)).distinct(), s"$idxDir/_tombs/batch=$batchId")

  /** Per-id newest tombstone batch (id, maxt) — empty frame when no
    * CDC delete has ever published. */
  def newest(spark: SparkSession, idxDir: String,
      idCol: String): DataFrame =
    newestUpTo(spark, idxDir, idCol, Long.MaxValue)

  /** [[newest]] restricted to tombstones from batches ≤ `maxBatch` —
    * for AS-OF views (IvfIndexStream's drift cut must be a pure
    * function of the lake up to the delivered batch, so a redelivery
    * recomputes the same decision). */
  def newestUpTo(spark: SparkSession, idxDir: String,
      idCol: String, maxBatch: Long): DataFrame = {
    val dirs = MarkerProtocol.versions(s"$idxDir/_tombs", "batch=",
        completeOnly = true).filter(_ <= maxBatch).map(v => s"$idxDir/_tombs/batch=$v")
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField(idCol, LongType),
          StructField("maxt", LongType))))
    else spark.read.option("basePath", s"$idxDir/_tombs")
      .parquet(dirs.toIndexedSeq: _*)
      .groupBy(col(idCol))
      .agg(max(col("batch").cast(LongType)).as("maxt"))
  }

  /** Read-side retraction: keep each row of `rows` (which must carry
    * its publication `batch` and the tombstone frame's id column)
    * unless a tombstone covers its batch. */
  def apply(rows: DataFrame, tombs: DataFrame): DataFrame = {
    val idCol = tombs.columns.head
    rows.join(tombs, Seq(idCol), "left")
      .filter(col("maxt").isNull ||
        col("batch").cast(LongType) > col("maxt"))
      .drop("maxt")
  }
}

/** The one starter of the maintained-index streams: a parquet
  * directory stream of `schema` whose every micro-batch runs `fold`
  * through foreachBatch; AvailableNow drains what exists and stops
  * (the S3/q43 harness discipline). */
private[streaming] object FoldStream {
  def start(spark: SparkSession, srcDir: String, schema: String,
      checkpoint: String, fold: (DataFrame, Long) => Unit): StreamingQuery =
    StreamStart(spark, spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .writeStream
      .foreachBatch(fold)
      .trigger(Trigger.AvailableNow()), checkpoint)
}
