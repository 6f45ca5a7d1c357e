package graft.streaming

/** The one retain-or-GC step under the three maintained index streams
  * (LshIndexStream.compact, ClusterIndexStream.pruneVersions,
  * IvfIndexStream.gc): a family says only which of its versions are
  * live given its floor; this step reads the floor, withdraws the
  * rest and sweeps debris, by the contract in [[MarkerProtocol]] and
  * [[SnapshotManifest]].
  */
private[streaming] object Retention {

  /** Age past which a staging dir at or below the newest complete
    * version is crash debris. A live publish finishes well inside it;
    * a redelivery of the newest version stages a fresh dir for it. */
  val GraceMs: Long = 10 * 60 * 1000L

  /** One GC pass. The floor is the least `key` over the live
    * manifests at `root` that pin the key's family (its prefix up to
    * the first dot), a manifest without the key reading as `absent`;
    * `rule(floor)` names the versions to drop as (dir, prefix, drop).
    * Then the `marked` (dir, prefix) versions and the manifests are
    * swept. */
  def gc(root: String, key: String, absent: Long, marked: (String, String),
      graceMs: Long = GraceMs)(
      rule: Option[Long] => Seq[(String, String, Long => Boolean)]): Unit = {
    val family = key.take(key.indexOf('.') + 1)
    val floor = SnapshotManifest.liveC(MarkerProtocol.localConf, root)
      .map(_._2).filter(_.keys.exists(_.startsWith(family)))
      .map(_.get(key).fold(absent)(_.toLong)).minOption
    for ((dir, prefix, drop) <- rule(floor);
         v <- MarkerProtocol.versions(dir, prefix) if drop(v))
      MarkerProtocol.unpublish(s"$dir/$prefix$v")
    sweep(marked._1, marked._2, graceMs)
    sweep(SnapshotManifest.manifestsDir(root), "manifest=", graceMs)
  }

  private def sweep(dir: String, prefix: String, graceMs: Long): Unit = {
    val complete = MarkerProtocol.versions(dir, prefix, completeOnly = true)
    complete.lastOption.foreach { newest =>
      MarkerProtocol.versions(dir, prefix)
        .filter(v => v < newest && !complete.contains(v))
        .foreach(v => MarkerProtocol.unpublish(s"$dir/$prefix$v"))
      val now = System.currentTimeMillis()
      MarkerProtocol.deleteStaged(dir, prefix) { (v, mtime) =>
        v <= newest && now - mtime >= graceMs
      }
    }
  }
}
