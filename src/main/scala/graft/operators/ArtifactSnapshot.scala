package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.streaming.{MarkerProtocol, SnapshotManifest}

/** ONE consistent snapshot across the four maintained batch-artifact
  * families (round-19 verdict #1, the q294 audit surface): the LSH
  * signature index, the cluster sigs+labels state, the BM25 df+meta
  * stats — each an independently-published warehouse artifact — and
  * the IVF assignment frame (a pure function of the embeddings
  * table, pinned by corpus fingerprint rather than by path). Before
  * this, a cross-family reader resolved each family's newest
  * artifact independently; four resolutions can interleave with a
  * concurrent publish and observe artifacts built from different
  * corpus states. Now the families are resolved ONCE, their versions
  * written into a single [[SnapshotManifest]], and every reader of
  * the snapshot — q294's four-way audit join first — reads the
  * manifest's pinned paths, so all four families come from the same
  * recorded world.
  *
  * Publication is change-driven: a snapshot is published only when
  * the pinned entries differ from the newest manifest's, so repeated
  * audits of an unchanged corpus share one manifest instead of
  * minting leases. The warehouse-unwritable fallback (artifacts
  * served from localCheckpoint) degrades to unpinned readers — same
  * data, no cross-run lease, exactly like the artifact layer itself.
  */
object ArtifactSnapshot {

  /** Reader keys: lsh_rows, cluster_sigs, cluster_labels, lex_df,
    * lex_meta, ivf_assigned. */
  def pinned(s: SparkSession, dir: String)
      : Map[String, () => DataFrame] = {
    val fp = BpeQueries.fingerprint(s, dir)
    // resolve-or-build every family FIRST (the artifact layer's
    // loadOrBuild publishes write-once per corpus fingerprint).
    // round 21 (guide §2.6): the three families are independent
    // artifacts — resolve them concurrently so one family's
    // load/build jobs back-fill another's tail; each loadOrBuild is
    // internally memoized and write-once, so concurrent resolution
    // changes nothing about what is built or read
    val (lsh, clust, lex) = Overlap.scope { o =>
      val lf = o.fork(LshIndexQueries.mergedIndex(s, dir))
      val cf = o.fork(ClusterIndexQueries.mergedParts(s, dir))
      val xf = o.fork(LexIndexQueries.mergedStats(s, dir))
      (lf.join, cf.join, xf.join)
    }
    val paths = Map(
      "lsh_rows" ->
        s"${LshIndexQueries.artifactPath(s, dir, "merged")}/rows",
      "cluster_sigs" ->
        s"${ClusterIndexQueries.artifactPath(s, dir, "merged")}/sigs",
      "cluster_labels" ->
        s"${ClusterIndexQueries.artifactPath(s, dir, "merged")}/labels",
      "lex_df" ->
        s"${LshIndexQueries.artifactPath(s, dir, "lexmerged")}/df",
      "lex_meta" ->
        s"${LshIndexQueries.artifactPath(s, dir, "lexmerged")}/meta")
    val pinnable = paths.filter { case (_, p) =>
      MarkerProtocol.isComplete(new org.apache.hadoop.fs.Path(p).getParent
        .toString, s.sparkContext.hadoopConfiguration)
    }
    val entries = pinnable.map { case (k, p) => s"art.$k" -> p } +
      ("art.ivf_fp" -> fp)
    val fallback: Map[String, () => DataFrame] = Map(
      "lsh_rows" -> lsh,
      "cluster_sigs" -> clust("sigs"),
      "cluster_labels" -> clust("labels"),
      "lex_df" -> lex("df"),
      "lex_meta" -> lex("meta"))
    val ivf: (String, () => DataFrame) =
      "ivf_assigned" -> (() => SimilarityQueries.ivfAssigned(s, dir))
    if (pinnable.size < paths.size) return fallback + ivf // unwritable wh
    val root = s"${s.conf.get("spark.sql.warehouse.dir",
      "spark-warehouse")}/graft_snap_$fp"
    val id = SnapshotManifest.newest(s, root) match {
      case Some((i, e)) if e == entries => i
      case _ =>
        try SnapshotManifest.publish(s, root, entries)
        catch { case scala.util.control.NonFatal(_) => -1L }
    }
    if (id < 0) return fallback + ivf
    val pins = SnapshotManifest.read(s, root, id).getOrElse(entries)
    paths.keys.map { k =>
      val p = pins(s"art.$k")
      k -> (() => s.read.parquet(p))
    }.toMap + ivf
  }
}
