package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** THE atomic-publish protocol of every maintained artifact, and the
  * only code that knows its on-disk names: the `_GRAFT_OK`
  * completeness marker, the `.tmp-<name>-<uuid>` staging sibling, the
  * `<prefix><n>` version-dir listing, the withdrawal and the staging
  * delete. A fix
  * in a hand-rolled copy would not propagate, so there are none.
  *
  * Sequence: stage everything (parquet parts + any caller-side
  * markers) in a dot-prefixed tmp sibling, drop the marker LAST,
  * expose with ONE rename. A crash at any point leaves either the
  * intact predecessor or marker-less debris readers already skip.
  *
  * Two tiers publish through it, with different debris rules. Every
  * publish sweeps same-target staging leftovers on entry, the debris
  * of crashed or failed writes (a failed write's straggler tasks can
  * re-create its staging dir after the failure path deletes it):
  *  - the STREAM tier (ClusterIndexStream versions, LshIndexStream
  *    batches and bases, IvfIndexStream batches, centroids and
  *    generations, their tombstones) has one writer
  *    per target — foreachBatch serializes batch publishes and
  *    write-once targets have a single trainer — so same-target tmp
  *    leftovers are always debris: `deleteDebris = true` sweeps them
  *    at once;
  *  - the WAREHOUSE tier (`LshIndexQueries.loadOrBuildParts`, which
  *    the BPE, unigram, LSH, cluster and BM25 artifacts all go
  *    through) and [[SnapshotManifest]] ids can have RACING
  *    publishers of one target, so another publisher's tmp may be an
  *    in-flight write: `deleteDebris = false` sweeps only those older
  *    than [[Retention.GraceMs]].
  *
  * Two modes:
  *  - `overwrite = true` (versioned-state publish, e.g.
  *    `batch=N`): an existing target — even a COMPLETE one — is
  *    replaced; a redelivered batch N must supersede its own previous
  *    publication. Rename failure throws (state would be lost).
  *  - `overwrite = false` (write-once publish, e.g. `_base=`, `_gen=`,
  *    `centroids`, warehouse artifacts): an existing COMPLETE target
  *    wins and the callback never runs (concurrent/replayed
  *    publishers collapse to one winner; losers read the winner's
  *    copy, identical because the content is a pure function of the
  *    inputs). An INCOMPLETE existing target is crash debris and is
  *    replaced.
  *
  * Retention contract, the same for every stream-tier family and
  * carried out by [[Retention]] alone: a version, or a publish
  * target being replaced, leaves by [[unpublish]], marker first and
  * then the dir, so a crash partway never leaves a marked dir with
  * missing parts. Debris is a marker-less version dir below the
  * newest complete version (a publish exposes only marked dirs), or
  * a staging dir at or below it older than [[Retention.GraceMs]]
  * (a redelivery of the newest version stages a fresh one).
  *
  * On a local path the marker is created with java.nio, with no
  * `.crc` shadow: Hadoop's local filesystem would fork a `chmod` for
  * the file and one for its checksum. Every check here treats a
  * marker with or without a `.crc` alike. The local-path helpers
  * default to a shared Hadoop configuration because the stream
  * tier's listings run without a session.
  */
private[graft] object MarkerProtocol {

  /** Completeness marker, underscore-prefixed so Spark's file index
    * treats it as hidden — plain parquet reads of the target skip it. */
  val Marker = "_GRAFT_OK"

  /** Staging dirs are `<Staging><target name>-<uuid>` siblings. */
  private val Staging = ".tmp-"

  private[streaming] lazy val localConf = new Configuration()

  private def children(fs: FileSystem, dir: Path): Array[FileStatus] =
    try fs.listStatus(dir)
    catch { case _: java.io.FileNotFoundException => Array.empty }

  def isComplete(dir: String,
      conf: Configuration = localConf): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(conf).exists(new Path(p, Marker))
  }

  /** The ids `n` of the `<prefix><n>` directories under `dir`,
    * ascending — only those carrying the marker when `completeOnly`.
    * A missing `dir` has none. */
  def versions(dir: String, prefix: String, completeOnly: Boolean = false,
      conf: Configuration = localConf): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    children(fs, p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .filter(st => !completeOnly || fs.exists(new Path(st.getPath, Marker)))
      .map(_.getPath.getName.stripPrefix(prefix).toLong)
      .sorted
  }

  /** Recursively delete the staging dirs of `<prefix><n>` targets
    * under `dir` — in-flight publishes or crash debris — that
    * `drop(n, mtime ms)` selects. */
  def deleteStaged(dir: String, prefix: String)(
      drop: (Long, Long) => Boolean): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(localConf)
    val tmp = Staging + prefix
    children(fs, p)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(tmp))
      .filter(st => drop(st.getPath.getName.stripPrefix(tmp)
        .takeWhile(_ != '-').toLong, st.getModificationTime))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Withdraw a published dir: the marker goes first, so concurrent
    * completeness checks see it vanish atomically, then the dir. */
  def unpublish(dir: String, conf: Configuration = localConf): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.delete(new Path(p, Marker), false)
    fs.delete(p, true)
    ()
  }

  /** [[publish]] `df` as parquet at `target`, replacing any previous
    * publication: the stream tier's per-batch write. */
  def replace(df: DataFrame, target: String): Unit = {
    publish(df.sparkSession, target, overwrite = true) { tmp =>
      df.write.mode("append").parquet(tmp.toString)
      true
    }
    ()
  }

  /** Publish `target`: the callback writes the artifact into the tmp
    * dir and returns true to publish; returning false aborts (tmp is
    * deleted, nothing exposed) — for callers that discover mid-write
    * there is nothing to publish (e.g. an empty retrain frame must not
    * bump a generation). A callback that throws aborts the same way,
    * then the exception propagates.
    *
    * The staging dir exists before the callback runs, and the marker
    * goes only into a staging dir that still exists: one deleted under
    * the write fails the publish instead of being re-created holding
    * only the marker, a COMPLETE target with no parts.
    *
    * @param deleteDebris sweep same-target `.tmp-` leftovers on entry
    *   whatever their age: the tier rule in the scaladoc above. A
    *   losing racer entering publish() with it set would delete the
    *   winner's in-flight tmp (SnapshotManifestSpec pins the race).
    * @return true iff THIS call's write became the live target. */
  def publish(spark: SparkSession, target: String,
      overwrite: Boolean, deleteDebris: Boolean = true)(
      write: Path => Boolean): Boolean = {
    val base = new Path(target)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = base.getFileSystem(conf)
    val ok = new Path(base, Marker)
    val prefix = s"$Staging${base.getName}-"
    val now = System.currentTimeMillis()
    children(fs, base.getParent)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .filter(st => deleteDebris ||
        now - st.getModificationTime >= Retention.GraceMs)
      .foreach(st => fs.delete(st.getPath, true))
    if (!overwrite && fs.exists(ok)) return false
    val tmp = new Path(base.getParent,
      prefix + java.util.UUID.randomUUID().toString.take(8))
    val local = NioCheckpointFileManager.isLocalPath(tmp, conf)
    if (local) Files.createDirectories(NioCheckpointFileManager.local(tmp))
    else fs.mkdirs(tmp)
    val wrote = try write(tmp)
      catch { case t: Throwable => fs.delete(tmp, true); throw t }
    if (!wrote) { fs.delete(tmp, true); return false }
    if (local)
      Files.createFile(NioCheckpointFileManager.local(tmp).resolve(Marker))
    else if (fs.exists(tmp)) fs.create(new Path(tmp, Marker), true).close()
    else throw new java.io.FileNotFoundException(
      s"staging dir $tmp vanished before its marker")
    // expose: withdraw whatever the mode says must yield, one rename
    if (fs.exists(base) && (overwrite || !fs.exists(ok)))
      unpublish(target, conf)
    if (fs.exists(base) || !fs.rename(tmp, base)) {
      fs.delete(tmp, true)
      if (overwrite) throw new IllegalStateException(
        s"marker-protocol publish failed for $target")
      false
    } else true
  }
}
