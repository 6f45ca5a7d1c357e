package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Consistent cross-artifact snapshots for the maintained-artifact
  * tier (design history: SCALE.md, "Maintained index streams"). The
  * artifact families each version independently — LshIndexStream
  * batches/bases, IvfIndexStream generations, ClusterIndexStream
  * versions, the warehouse batch artifacts — and compaction/GC used
  * to reclaim superseded dirs immediately, so a reader joining ACROSS families (q294's audit
  * surface) could observe mixed versions, and a long scan could hit
  * FileNotFound when a concurrent compaction swept its input dirs.
  *
  * A manifest is a tiny key=value file pinning, per snapshot, each
  * family's version token (batch id / generation / base / artifact
  * path), published write-once through [[MarkerProtocol]] under
  * `<root>/_manifests/manifest=<id>` — the same crash-safe
  * tmp+marker+rename lifecycle as the artifacts themselves, so a
  * half-written manifest is marker-less debris readers skip.
  * Readers resolve versions through ONE complete manifest and see a
  * single consistent world.
  *
  * Retention contract: every family's GC runs through [[Retention]],
  * which floors it at the least version any live manifest of the
  * family pins (the VACUUM-style grace; a family manifest without the
  * key pinned the world before the family's first such version): a
  * version some live manifest pins is never reclaimed, and dropping
  * the manifest (the reader lease ending) is what releases its dirs
  * to the next GC pass. With no manifests published, reclaim is
  * immediate — the tier is pay-for-what-you-pin. The same pass sweeps
  * manifest debris by [[MarkerProtocol]]'s rule.
  *
  * Entry keys are namespaced per family ("lsh.base",
  * "ivf.gen", "cluster.version", ...) so one manifest can span any
  * number of families rooted anywhere — the cross-artifact case
  * passes the shared manifest root to every family's GC.
  */
object SnapshotManifest {

  private[streaming] def manifestsDir(root: String) = s"$root/_manifests"

  private def confOf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  private def fsOf(conf: Configuration, p: String) =
    new Path(p).getFileSystem(conf)

  private def manifestDir(root: String, id: Long) =
    s"${manifestsDir(root)}/manifest=$id"

  private def listIds(conf: Configuration, root: String,
      completeOnly: Boolean): Seq[Long] =
    MarkerProtocol.versions(manifestsDir(root), "manifest=",
      completeOnly, conf)

  /** Publish `entries` as the next snapshot; returns its id. The
    * write-once publish makes a concurrent allocation race collapse
    * to one winner per id — the loser retries on the next id. */
  def publish(spark: SparkSession, root: String,
      entries: Map[String, String]): Long = {
    val fs = fsOf(confOf(spark), root)
    var id = listIds(confOf(spark), root, completeOnly = false).lastOption
      .map(_ + 1).getOrElse(0L)
    var won = false
    while (!won) {
      // deleteDebris=false: manifest ids are allocated by RACING
      // publishers (collapse-to-one-winner by design), so another
      // publisher's same-id tmp is an in-flight write, not crash
      // debris — sweeping it could publish a COMPLETE manifest with
      // no entries file. Loser tmps are deleted by their own publish()
      // calls; crash debris under _manifests is marker-less, readers
      // skip it and [[Retention]] sweeps it once aged.
      won = MarkerProtocol.publish(spark,
        manifestDir(root, id), overwrite = false,
        deleteDebris = false) { tmp =>
        val out = fs.create(new Path(tmp, "entries"), true)
        val text = entries.toSeq.sorted
          .map { case (k, v) => s"$k=$v" }.mkString("\n")
        out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
        true
      }
      if (!won) id += 1
    }
    id
  }

  /** Publish one family's pin, RE-RESOLVED against a racing GC.
    * `resolve` returns the family's current pin plus the version dirs
    * it needs, which must all still be complete once it is published.
    *
    * Pin-vs-GC acquisition window: a concurrent GC can compute its
    * retention floor BEFORE this manifest lands and reclaim the dirs
    * the pin resolves to — and the families' pinned reads take
    * missing dirs as silently absent, so the pinned
    * view would be WRONG, not failing. Once the manifest is visible,
    * any GC that lists AFTER it floors at it; so the check runs after
    * the publish, and a failure (a GC raced the window) drops the
    * stale manifest and re-pins the post-GC state. Bounded retries —
    * a pathological GC storm still returns the freshest pin, published
    * unverified, rather than looping forever or returning a dropped
    * id. `afterPublish` runs inside the window; it exists so specs can
    * stage the race deterministically. */
  private[streaming] def publishVerified(spark: SparkSession,
      root: String, resolve: () => (Map[String, String], Seq[String]),
      afterPublish: Long => Unit = _ => ()): Long = {
    var attempt = 0
    var verified: Option[Long] = None
    while (verified.isEmpty && attempt < 5) {
      attempt += 1
      val (entries, needed) = resolve()
      val id = publish(spark, root, entries)
      afterPublish(id)
      if (needed.forall(MarkerProtocol.isComplete(_))) verified = Some(id) else drop(spark, root, id)
    }
    verified.getOrElse(publish(spark, root, resolve()._1))
  }

  /** Pinned entries of manifest `id`, if complete. */
  def read(spark: SparkSession, root: String,
      id: Long): Option[Map[String, String]] =
    readC(confOf(spark), root, id)

  def readC(conf: Configuration, root: String,
      id: Long): Option[Map[String, String]] = {
    val fs = fsOf(conf, root)
    if (!MarkerProtocol.isComplete(manifestDir(root, id), conf)) return None
    val dir = new Path(manifestDir(root, id))
    // a marker-present dir WITHOUT an entries file is debris (e.g. a
    // partial object-store rename), not a readable manifest — treat
    // as incomplete so readers, liveC/newest and GC floors skip it
    // instead of crashing every compact/gc/pinned read at this root
    // until the dir is hand-deleted
    if (!fs.exists(new Path(dir, "entries"))) return None
    val in = fs.open(new Path(dir, "entries"))
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    Some(text.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('=')
      line.take(i) -> line.drop(i + 1)
    }.toMap)
  }

  /** The entries of manifest `id` for a family's `*At` reader: the
    * manifest must be complete and pin some key of `family`. */
  private[streaming] def pinned(spark: SparkSession, root: String,
      id: Long, family: String): Map[String, String] =
    read(spark, root, id).filter(_.keys.exists(_.startsWith(family)))
      .getOrElse(throw new IllegalArgumentException(
        s"no complete snapshot manifest=$id pinning $family under $root"))

  /** Complete manifests, ascending: the live reader leases. */
  def live(spark: SparkSession, root: String)
      : Seq[(Long, Map[String, String])] =
    liveC(confOf(spark), root)

  def liveC(conf: Configuration, root: String)
      : Seq[(Long, Map[String, String])] =
    listIds(conf, root, completeOnly = true)
      .flatMap(id => readC(conf, root, id).map(id -> _))

  /** Newest complete manifest — what a fresh reader resolves. */
  def newest(spark: SparkSession, root: String)
      : Option[(Long, Map[String, String])] =
    live(spark, root).lastOption

  /** Release a reader lease: the dropped manifest no longer floors
    * any GC. Deleting the marker first makes the drop atomic to
    * concurrent floor computations (a marker-less manifest is not
    * live). */
  def drop(spark: SparkSession, root: String, id: Long): Unit =
    MarkerProtocol.unpublish(manifestDir(root, id), confOf(spark))

  /** The retention floor for one pinned long-valued key: the MINIMUM
    * value any live manifest pins under `key`, or None when no live
    * manifest pins it (GC is then unconstrained by this key). */
  def floor(spark: SparkSession, root: String, key: String)
      : Option[Long] =
    live(spark, root).flatMap(_._2.get(key)).map(_.toLong).minOption
}
