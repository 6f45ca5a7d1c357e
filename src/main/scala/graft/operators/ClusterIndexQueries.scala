package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.functions.TextOps

/** q284 — MAINTAINED near-dup CLUSTER LABELS (round-16 advice #2): the
  * natural artifact one level above q276's banded signatures. q99 and
  * q281 recompute connected components from scratch every run; a
  * production corpus pipeline instead PERSISTS the cluster labels and
  * folds an arriving shard in by propagating ONLY from the new pairs'
  * frontier — history is never re-shingled, and untouched clusters are
  * never re-labelled.
  *
  * The enabling algebraic fact — and why this artifact lives on the
  * q51 BANDING graph, not q99's capped-posting graph: band-bucket
  * candidacy is a PURE PER-CONTENT function (a pair shares a bucket
  * iff their own signatures collide), so the verified edge set
  * decomposes under shard union: E(A ∪ B) = E(A) ∪ {edges touching
  * B}. The q99/q50 capped posting lists do NOT decompose — re-capping
  * a shingle's posting after a merge can EVICT old docs (TopK lowest
  * doc_ids is mergeable, but the pairs it generates are not monotone
  * under union), so an incrementally-maintained capped-candidate graph
  * could disagree with the from-scratch one. Banding has no such
  * cross-doc coupling.
  *
  * Grain and threshold are q51's: content groups (md5 of normalized
  * text) over the planted dedup corpus, 8 MinHash / 4-band signatures
  * ([[DedupQueries.minhashBandTable]] — the SAME kernel as
  * q51/q241/q276, so the maintained graph can never drift from the
  * per-run queries' banding scheme), exact Jaccard ≥ 0.5 verify on
  * the full shingle sets. Clusters are connected components of the
  * verified CONTENT-pair graph; the cluster id is the component's
  * minimum content hash (a pure function of the member set — stable
  * for components the arriving shard never touches, unlike a min
  * DOC id, which a new replica of an old content could lower without
  * adding any edge).
  *
  * Incremental-merge algebra (the q276/q140 equivalence applied to
  * connected components; ClusterIndexSpec proves it directly):
  *   merge(labels(A), shard B) ≡ labels(A ∪ B)
  * because (i) new edges = band join of B-content signatures against
  * the MERGED signature artifact — complete, since every edge of
  * E(A∪B) \ E(A) has a B endpoint; (ii) an old component none of
  * whose members touches a new edge keeps exactly its node set, hence
  * its min-hash label; (iii) a touched component is re-labelled by
  * min-label propagation over {new edges} ∪ {star edges (member →
  * old label) of touched components} — stars preserve old
  * connectivity, new edges add the rest, and the propagated min over
  * that graph's node ids IS the min over the true merged component
  * (every member of the merged component is a star member or a
  * new-edge endpoint).
  *
  * Scale shape: the ONLY full-corpus work in the merge path is the
  * membership pass (normalize + md5 — the same pass every dedup query
  * pays); shingling + 8×MinHash (the dominant cost) runs ONLY on the
  * arriving shard's new contents plus the bounded set of old contents
  * that actually collide with them (re-shingled via an equi-join on
  * candidate hashes, never the whole history). Propagation runs on
  * the touched frontier, not the standing graph. At 100 TB: history
  * is hashed once, ever.
  *
  * Artifact layout (fingerprint-keyed path, published through
  * [[LshIndexQueries.loadOrBuildParts]], i.e. through
  * [[graft.streaming.MarkerProtocol]]):
  *   {warehouse}/graft_clustidx/{tag}_{corpus-fingerprint}/{sigs,labels}
  * sigs = (h, band_idx, bh) content-grain band rows; labels =
  * (h, lbl) for every content in ≥1 verified edge. The merged
  * artifact is itself published, so the NEXT shard merges on top —
  * train-once / merge-many.
  */
object ClusterIndexQueries {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(Tables.tuned(s), dir, n)

  /** The q276 shard convention: 3/4 of doc_ids are standing history,
    * the remaining quarter is the arriving shard. */
  private val shardMod = 4L
  private def isHistory(c: org.apache.spark.sql.Column) =
    c % shardMod =!= (shardMod - 1)

  /** (doc_id, h) membership over the planted corpus — the one
    * full-corpus pass the merge path pays. */
  private def membership(docs: DataFrame): DataFrame =
    DedupQueries.corpus(docs)
      .withColumn("nt", TextOps.norm(col("text")))
      .filter(col("nt").isNotNull)
      .select(col("doc_id"), md5(col("nt")).as("h"))

  /** Content groups (h, nt) for a doc subset: the q276 shape — shuffle
    * on h FIRST so no map-side partial ever buffers fat text values
    * over a fat scan partition. Deliberately NOT width-pinned (round
    * 21): the wave-4 pin was A/B'd here and REGRESSED q284/q289 at
    * sf0.1 (+0.1–0.3 s) — the frames this shapes (arriving shard,
    * touched survivors) are small, so the pinned 32-way fan only
    * multiplies downstream task floors through the propagation loop,
    * while at ×100 the byte-based AQE coalescing never collapses the
    * width anyway. The pin pays only where a measured multi-second
    * serial stage exists (prunedParts/decontamShingleParts). */
  private def contentGroups(docs: DataFrame): DataFrame =
    DedupQueries.corpus(docs)
      .withColumn("nt", TextOps.norm(col("text")))
      .filter(col("nt").isNotNull)
      .select(md5(col("nt")).as("h"), col("nt"))
      .repartition(col("h"))
      .groupBy(col("h")).agg(min(col("nt")).as("nt"))

  /** Shingle sets for a content-group frame. */
  private def withShingles(grp: DataFrame): DataFrame =
    grp.withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
      .withColumn("n", size(col("sh")).cast(LongType))
      .drop("nt")

  /** Content-grain band rows (h, band_idx, bh), bh non-null — the
    * shared q51/q276 banding kernel. */
  private def sigsOf(shGrp: DataFrame): DataFrame =
    DedupQueries.minhashBandTable(shGrp.select(col("h"), col("sh")), "h")
      .filter(col("bh").isNotNull)
      .select(col("h"),
        col("band_idx").cast(LongType).as("band_idx"), col("bh"))

  /** Verified edges (g1 < g2, exact Jaccard ≥ 0.5) among a candidate
    * pair frame, given a shingle lookup (h, sh, n). */
  private def verify(cand: DataFrame, shTab: DataFrame): DataFrame =
    cand
      .join(shTab.select(col("h").as("g1"), col("sh").as("sh1"),
        col("n").as("n1")), "g1")
      .join(shTab.select(col("h").as("g2"), col("sh").as("sh2"),
        col("n").as("n2")), "g2")
      .withColumn("inter",
        size(array_intersect(col("sh1"), col("sh2"))).cast(LongType))
      .filter(col("inter").cast(DoubleType) /
        (col("n1") + col("n2") - col("inter")) >= 0.5)
      .select(col("g1"), col("g2"))

  /** Min-label propagation over a string-id pair graph → (h, lbl) for
    * every node: the q99 loop re-expressed for content hashes (labels
    * are md5 hex strings, so convergence is detected on a hash-sum
    * fingerprint of the label multiset instead of q99's numeric sum —
    * labels only ever decrease, so a stable fingerprint means a fixed
    * point). Rounds = graph diameter, bounded at 20; checkpointed
    * lineage. */
  private[operators] def propagateMinLabels(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .unionByName(pairs.select(col("g2").as("g1"), col("g1").as("g2")))
      .localCheckpoint()
    var labels = edges.select(col("g1").as("h")).distinct()
      .withColumn("lbl", col("h")).localCheckpoint()
    var prevFp = Option.empty[Long]
    var iter = 0
    var converged = false
    while (!converged && iter < 20) {
      val prop = edges.join(labels, edges("g1") === labels("h"))
        .select(edges("g2").as("h"), col("lbl"))
      // bit_xor, not sum: order-independent over the unique (h, lbl)
      // rows and immune to Long overflow whatever the session's ANSI
      // setting (a sum of xxhash64 values overflows under ANSI).
      // round 22 (verdict #2): the fingerprint rides the checkpoint's
      // own materialization via observe() — one job per iteration
      // instead of two, value identical.
      val obs = org.apache.spark.sql.Observation()
      labels = labels.unionByName(prop)
        .groupBy("h").agg(min(col("lbl")).as("lbl"))
        .observe(obs,
          bit_xor(xxhash64(concat_ws("|", col("h"), col("lbl")))).as("fp"))
        .localCheckpoint()
      // bit_xor over an EMPTY label frame (a batch that adds no new
      // edges — the streaming path hits this) aggregates to NULL
      val fp = obs.get("fp") match {
        case null => 0L
        case v    => v.asInstanceOf[Long]
      }
      converged = prevFp.contains(fp)
      prevFp = Some(fp)
      iter += 1
    }
    // stderr diagnostic for the large-star/small-star decision
    // (round-16 advice #2 tail): iterations = diameter + 1
    // convergence check; star-alternation only pays when this is
    // large (long chains), so the number is worth watching
    System.err.println(s"[graft] propagateMinLabels iterations=$iter")
    // A component with diameter > cap-1 would otherwise return
    // silently-truncated labels into the maintained artifact and the
    // streaming state — fail loudly instead (round-17 advice)
    if (!converged) throw new IllegalStateException(
      s"propagateMinLabels did not converge within $iter iterations " +
        "(component diameter exceeds the cap); labels would be wrong")
    labels
  }

  private[graft] def artifactPath(
      s: SparkSession, dir: String, tag: String): String = {
    val wh = s.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    s"$wh/graft_clustidx/${tag}_${BpeQueries.fingerprint(s, dir)}"
  }

  /** Standing artifact: signatures + cluster labels of the HISTORY
    * shard, persisted once per corpus fingerprint. */
  private[graft] def historyParts(s: SparkSession, dir: String)
      : Map[String, () => DataFrame] =
    LshIndexQueries.loadOrBuildParts(
      s, artifactPath(s, dir, "hist"), Seq("sigs", "labels"), () => {
        val shGrp = withShingles(contentGroups(
          t(s, dir, "documents").filter(isHistory(col("doc_id")))))
          .localCheckpoint()
        val sigs = sigsOf(shGrp).localCheckpoint()
        val cand = sigs.alias("a")
          .join(sigs.alias("b"),
            col("a.band_idx") === col("b.band_idx") &&
              col("a.bh") === col("b.bh") && col("a.h") < col("b.h"))
          .select(col("a.h").as("g1"), col("b.h").as("g2"))
          .distinct()
        val labels = propagateMinLabels(verify(cand, shGrp))
        Map("sigs" -> sigs, "labels" -> labels)
      })

  /** The shared incremental-merge core (the batch shard merge AND the
    * streaming per-batch fold route through this one function, the
    * q276/LshIndexStream discipline): fold a set of arriving content
    * groups into standing (sigs, labels) state by frontier
    * propagation — never re-shingle history, never re-label untouched
    * clusters.
    *
    * @param oldSigs   standing (h, band_idx, bh)
    * @param oldLabels standing (h, lbl)
    * @param arrivingGrp arriving content groups (h, sh, n); contents
    *   already present in oldSigs are dropped here (their signatures
    *   and labels already stand)
    * @param oldGrpFor re-shingles a given h-set of OLD contents —
    *   (h) frame → (h, sh, n); called with the bounded candidate
    *   contact set only
    */
  private[graft] def mergeCore(
      oldSigs: DataFrame, oldLabels: DataFrame, arrivingGrp: DataFrame,
      oldGrpFor: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val newGrp = arrivingGrp
      .join(oldSigs.select(col("h")).distinct(), Seq("h"), "left_anti")
      .localCheckpoint()
    val newSigs = sigsOf(newGrp).localCheckpoint()
    val mergedSigs = oldSigs.unionByName(newSigs)
    // complete new-edge candidates: every edge of E(A∪B) \ E(A)
    // has a new-content endpoint, and banding is per-content pure
    val cand = newSigs.alias("a")
      .join(mergedSigs.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.bh") === col("b.bh") && col("a.h") =!= col("b.h"))
      .select(least(col("a.h"), col("b.h")).as("g1"),
        greatest(col("a.h"), col("b.h")).as("g2"))
      .distinct()
      .localCheckpoint()
    // re-shingle ONLY the old contents that actually collide with
    // the arriving contents (equi-join on candidate hashes) — the
    // bounded contact set, never the whole history; contents already
    // shingled in newGrp are excluded from the fetch (the streaming
    // caller's lake includes the just-delivered batch — without this
    // anti-join their shingles would be fetched AND computed, and the
    // shingle table would carry duplicate rows into verify)
    val candH = cand.select(col("g1").as("h"))
      .unionByName(cand.select(col("g2").as("h"))).distinct()
      .join(newGrp.select(col("h")), Seq("h"), "left_anti")
    val oldCandGrp = oldGrpFor(candH)
    val shTab = newGrp.unionByName(oldCandGrp).localCheckpoint()
    val newEdges = verify(cand, shTab).localCheckpoint()
    // frontier propagation: touched components re-labelled over
    // {new edges} ∪ {star edges of touched components};
    // untouched labels pass through verbatim
    val ends = newEdges.select(col("g1").as("h"))
      .unionByName(newEdges.select(col("g2").as("h"))).distinct()
    val touchedRoots = oldLabels.join(ends, Seq("h"), "left_semi")
      .select(col("lbl")).distinct()
    val touched = oldLabels.join(touchedRoots, Seq("lbl"), "left_semi")
    val stars = touched
      .filter(col("h") =!= col("lbl"))
      .select(col("h").as("g1"), col("lbl").as("g2"))
    val prop = propagateMinLabels(newEdges.unionByName(stars))
    // join on lbl reorders columns (join key first) — pin the
    // published schema to (h, lbl) explicitly
    val untouched = oldLabels.join(touchedRoots, Seq("lbl"), "left_anti")
    (mergedSigs,
      untouched.unionByName(prop).select(col("h"), col("lbl")))
  }

  /** The maintained merged artifact: fold the arriving shard into the
    * history parts through [[mergeCore]]. */
  private[graft] def mergedParts(s: SparkSession, dir: String)
      : Map[String, () => DataFrame] =
    LshIndexQueries.loadOrBuildParts(
      s, artifactPath(s, dir, "merged"), Seq("sigs", "labels"), () => {
        val hist = historyParts(s, dir)
        val docs = t(s, dir, "documents")
        val arrivingGrp = withShingles(
          contentGroups(docs.filter(!isHistory(col("doc_id")))))
        val (mergedSigs, labels) = mergeCore(
          hist("sigs")().localCheckpoint(),
          hist("labels")().localCheckpoint(),
          arrivingGrp,
          candH => withShingles(
            contentGroups(docs.filter(isHistory(col("doc_id"))))
              .join(candH, Seq("h"), "left_semi")))
        Map("sigs" -> mergedSigs, "labels" -> labels)
      })

  /** Retraction predicate shared by the deletion queries (q289–q291):
    * corpus doc_ids with doc_id % 7 == 3 are tombstoned. Mod 7 is
    * coprime to the corpus-plant offsets (+100000, +200000 — both
    * ≡ 0 mod 8 but not mod 7), so the tombstone set hits replicas of
    * a content independently: some contents lose EVERY doc (the
    * content leaves the graph), others only some (the content — and
    * its cluster membership — must survive). */
  private[operators] def isRetracted(c: org.apache.spark.sql.Column) =
    c % 7 === 3

  /** The deletion dual of [[mergeCore]] (round-17 advice #1): remove a
    * set of CONTENTS from standing (sigs, labels) state by
    * recomputing only the touched components — never re-shingle
    * history at large, never re-label untouched clusters.
    *
    * Why deletion is the hard half: a removed node can SPLIT its
    * component, and the standing label (the component's min member
    * hash) can DANGLE when the minimum member itself is deleted — so
    * labels cannot be patched edge-locally the way additions can.
    * The saving fact is component CLOSURE: every surviving edge
    * incident to a touched component's member has its other endpoint
    * in the SAME component (else the two components would already be
    * one). So the touched components' surviving members form a
    * self-contained subgraph, and re-deriving candidates (band join
    * of their standing signature rows — banding is per-content pure)
    * + exact verify + min-label propagation over JUST that subgraph
    * reproduces exactly what a from-scratch run on corpus-minus-
    * deleted would compute for those nodes. Untouched labels pass
    * through verbatim; survivors left with no edge drop out of the
    * label table (the from-scratch convention). Cross-touched-
    * component candidate pairs the band join resurfaces are rejected
    * by the same verify that rejected them originally.
    *
    * Signatures are per-content pure, so sigs' is a plain tombstone
    * anti-join.
    *
    * @param delH contents to remove — ONLY contents with no surviving
    *   doc (doc-grain tombstones fold to content grain at the caller,
    *   where membership lives)
    * @param survGrpFor re-shingles a given h-set of SURVIVING
    *   contents — called with the touched components' survivors only
    */
  private[graft] def delCore(
      oldSigs: DataFrame, oldLabels: DataFrame, delH: DataFrame,
      survGrpFor: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val del = delH.select(col("h")).distinct().localCheckpoint()
    val sigsOut = oldSigs.join(del, Seq("h"), "left_anti")
      .localCheckpoint()
    // touched components: any component with a deleted member; a
    // deleted content with no edges never appears in oldLabels and
    // needs no label work at all
    val delRoots = oldLabels.join(del, Seq("h"), "left_semi")
      .select(col("lbl")).distinct()
    val touchedSurv = oldLabels
      .join(delRoots, Seq("lbl"), "left_semi")
      .join(del, Seq("h"), "left_anti")
      .select(col("h")).localCheckpoint()
    val survGrp = survGrpFor(touchedSurv).localCheckpoint()
    // candidate pairs among the touched survivors, off the STANDING
    // signature artifact (restricted, never recomputed)
    val survSigs = sigsOut.join(touchedSurv, Seq("h"), "left_semi")
    val cand = survSigs.alias("a")
      .join(survSigs.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.bh") === col("b.bh") && col("a.h") < col("b.h"))
      .select(col("a.h").as("g1"), col("b.h").as("g2"))
      .distinct()
    val relbl = propagateMinLabels(verify(cand, survGrp))
    val untouched = oldLabels.join(delRoots, Seq("lbl"), "left_anti")
    (sigsOut,
      untouched.unionByName(relbl).select(col("h"), col("lbl")))
  }

  /** From-scratch (sigs, labels) over the full corpus — the reference
    * both the merge path and the deletion path must equal exactly
    * (ClusterIndexSpec; the registry oracles re-derive the same thing
    * in DuckDB). */
  private[graft] def fromScratchState(docs: DataFrame)
      : (DataFrame, DataFrame) = {
    val shGrp = withShingles(contentGroups(docs)).localCheckpoint()
    val sigs = sigsOf(shGrp).localCheckpoint()
    val cand = sigs.alias("a")
      .join(sigs.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.bh") === col("b.bh") && col("a.h") < col("b.h"))
      .select(col("a.h").as("g1"), col("b.h").as("g2"))
      .distinct()
    (sigs, propagateMinLabels(verify(cand, shGrp)))
  }

  private[graft] def fromScratchLabels(docs: DataFrame): DataFrame =
    fromScratchState(docs)._2

  /** Shingled content groups of a doc frame — the spec-side fetch for
    * [[delCore]]/[[mergeCore]] callbacks. */
  private[graft] def groupsFor(docs: DataFrame): DataFrame =
    withShingles(contentGroups(docs))

  /** Per-cluster summary off the MAINTAINED label artifact, expanded
    * to doc grain through the membership pass: cluster id (min content
    * hash), content count, doc count, min member doc_id. The oracle
    * recomputes all of it from the raw corpus from scratch (banding,
    * exact verify, recursive-CTE components) — artifact path and
    * from-scratch path must agree bit-for-bit. */
  /** The q284 from-scratch DuckDB derivation, parameterized by a
    * membership filter so q289 can grade deletion against a
    * from-scratch run on corpus-minus-deleted — the SAME recursive-CTE
    * component algebra, never a patched artifact. */
  private def clusterSummarySql(membFilter: String): String = {
      val mins = (0 until 8).map(i =>
        s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
      val bandSelects = (0 until 4).map(j =>
        s"SELECT h, CAST($j AS BIGINT) AS band_idx, " +
          s"md5(m${2 * j}||m${2 * j + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      s"""
      WITH RECURSIVE ${DedupQueries.corpusSql},
      memb AS (
        SELECT doc_id, md5(nt) AS h, nt
        FROM (SELECT doc_id,
                     regexp_replace(trim(lower(text)),'\\s+',' ','g') AS nt
              FROM corpus)
        WHERE nt IS NOT NULL$membFilter),
      grp AS (SELECT h, MIN(nt) AS nt FROM memb GROUP BY 1),
      gsh AS (
        SELECT h,
               list_distinct([array_to_string(w[i+1:i+5],' ')
                              FOR i IN range(len(w)-4)]) AS sh
        FROM (SELECT h, string_split(nt, ' ') AS w FROM grp)),
      mh AS (SELECT h, sh, $mins FROM gsh),
      bands AS (
        SELECT h, band_idx, bh FROM ($bandSelects) WHERE bh IS NOT NULL),
      cand AS (
        SELECT DISTINCT a.h AS g1, b.h AS g2
        FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.h < b.h),
      e AS (
        SELECT g1, g2 FROM cand
        JOIN gsh s1 ON s1.h = g1
        JOIN gsh s2 ON s2.h = g2
        WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
              (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)))
              >= 0.5),
      e2 AS (SELECT g1 AS src, g2 AS dst FROM e
             UNION ALL SELECT g2, g1 FROM e),
      nodes AS (SELECT DISTINCT src AS h FROM e2),
      reach(h, m) AS (
        SELECT h, h FROM nodes
        UNION
        SELECT e2.dst, r.m FROM reach r JOIN e2 ON e2.src = r.h),
      lbl AS (SELECT h, MIN(m) AS lbl FROM reach GROUP BY 1)
      SELECT l.lbl AS cluster,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT m.h) AS BIGINT) AS n_contents,
             MIN(m.doc_id) AS min_doc
      FROM memb m JOIN lbl l ON l.h = m.h
      GROUP BY 1 ORDER BY 1
      """
  }

  /** The maintained-cluster summary shape shared by q284 and q289:
    * label artifact → doc grain through a membership frame. */
  private def clusterSummary(memb: DataFrame, labels: DataFrame)
      : DataFrame =
    memb.join(labels, "h")
      .groupBy(col("lbl").as("cluster"))
      .agg(graft.functions.Exprs.asLong(count(lit(1))).as("n_docs"),
        graft.functions.Exprs.asLong(count_distinct(col("h")))
          .as("n_contents"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("cluster"))

  /** Per-cluster summary off the MAINTAINED label artifact, expanded
    * to doc grain through the membership pass: cluster id (min content
    * hash), content count, doc count, min member doc_id. The oracle
    * recomputes all of it from the raw corpus from scratch (banding,
    * exact verify, recursive-CTE components) — artifact path and
    * from-scratch path must agree bit-for-bit. */
  private val q284 = Q(
    "q284_cluster_index_maintain",
    (s, dir) =>
      clusterSummary(membership(t(s, dir, "documents")),
        mergedParts(s, dir)("labels")()),
    Some(clusterSummarySql("")))

  /** q289 — DELETION/RETRACTION for the maintained cluster-label
    * artifact (round-17 advice #1, the maintained-artifact tier's
    * missing half): tombstone the doc_ids under [[isRetracted]],
    * fold doc-grain tombstones to content grain (a content leaves
    * the graph only when its LAST doc is retracted), and repair the
    * standing artifact through [[delCore]] — signatures by tombstone
    * anti-join, labels by recompute-only-touched-components (a
    * deletion can SPLIT a component and dangle its min-hash label,
    * which no edge-local patch can fix). Corpus-scale work: the one
    * membership pass every dedup query pays; shingles are recomputed
    * ONLY for surviving members of components that actually lost a
    * content. The oracle knows nothing of the artifact or the repair
    * algebra — it re-derives components from scratch over
    * corpus-minus-deleted, so the repaired artifact must equal a
    * from-scratch world with no deletion history at all. */
  private val q289 = Q(
    "q289_cluster_index_delete",
    (s, dir) => {
      val parts = mergedParts(s, dir)
      val docs = t(s, dir, "documents")
      // round 21 (guide §2.6): the three input checkpoints — corpus
      // membership, artifact sigs, artifact labels — share nothing;
      // overlap their materialization jobs (identical frames, only
      // job submission overlaps)
      val (memb, sigs, labels0) = Overlap.scope { o =>
        val membF = o.fork(membership(docs).localCheckpoint())
        val sigsF = o.fork(parts("sigs")().localCheckpoint())
        val labelsF = o.fork(parts("labels")().localCheckpoint())
        (membF.join, sigsF.join, labelsF.join)
      }
      // content grain: deleted iff NO surviving member doc
      val delH = memb
        .groupBy(col("h"))
        .agg(max(when(!isRetracted(col("doc_id")), 1L).otherwise(0L))
          .as("alive"))
        .filter(col("alive") === 0).select(col("h"))
      val (_, labels) = delCore(
        sigs,
        labels0,
        delH,
        survH => withShingles(contentGroups(docs)
          .join(survH, Seq("h"), "left_semi")))
      clusterSummary(memb.filter(!isRetracted(col("doc_id"))), labels)
    },
    Some(clusterSummarySql(" AND doc_id % 7 <> 3")))

  /** q294 — the RETRACTION AUDIT: the compliance report a deployment
    * runs after a takedown wave, proving every maintained artifact
    * actually shrank by exactly the retracted footprint. One row per
    * artifact family — LSH signature rows (doc grain, q290's
    * anti-join), cluster-label rows (content grain, q289's delCore),
    * BM25 vocabulary terms (q291's subtraction, zero-df terms drop),
    * IVF assignment rows (q293's anti-join) — each with its
    * before/after cardinality and the removed delta, all computed
    * through the SAME repair paths the deletion queries ship (never
    * a parallel implementation that could drift). The oracle derives
    * both worlds from scratch in DuckDB: full corpus vs
    * corpus-minus-deleted, including a second recursive-CTE
    * component derivation for the label count. */
  private val q294 = Q(
    "q294_retraction_audit",
    (s, dir) => {
      val spark = s
      import spark.implicits._
      val docs = t(s, dir, "documents")
      // ALL FOUR artifact families resolve through ONE snapshot
      // manifest (round-19 verdict #1): the audit's cross-family
      // joins read versions a single manifest pinned together, never
      // a mix of resolutions that interleaved with a publish.
      val snap = ArtifactSnapshot.pinned(s, dir)
      def cnt(df: DataFrame): Long = df.count()
      // round 21 (guide §2.6 "overlap independent jobs"): the four
      // artifact families' before/after derivations share NOTHING
      // downstream of the pinned snapshot — the cluster family's
      // delCore repair (checkpoints + the propagation loop) is the
      // long pole, and the other three families' count jobs back-fill
      // its idle tails under FIFO. Identical frames, identical counts;
      // only job submission overlaps.
      val rows = Overlap.scope { o =>
        // --- LSH signature index (doc grain) ---
        val lshF = o.fork {
          val idx = snap("lsh_rows")()
          val idxAfter = idx.join(
            docs.filter(isRetracted(col("doc_id"))).select(col("doc_id")),
            Seq("doc_id"), "left_anti")
          ("lsh_signature_rows", cnt(idx), cnt(idxAfter))
        }
        // --- cluster labels (content grain, planted corpus) ---
        val clusterF = o.fork {
          val memb = membership(docs).localCheckpoint()
          val delH = memb.groupBy(col("h"))
            .agg(max(when(!isRetracted(col("doc_id")), 1L).otherwise(0L))
              .as("alive"))
            .filter(col("alive") === 0).select(col("h"))
          val (_, labelsAfter) = delCore(
            snap("cluster_sigs")().localCheckpoint(),
            snap("cluster_labels")().localCheckpoint(),
            delH,
            survH => withShingles(contentGroups(docs)
              .join(survH, Seq("h"), "left_semi")))
          ("cluster_label_rows", cnt(snap("cluster_labels")()),
            cnt(labelsAfter))
        }
        // --- BM25 vocabulary (term grain) ---
        val bm25F = o.fork {
          val (dfAfter, _) = LexIndexQueries.subtractStats(
            snap("lex_df")(), snap("lex_meta")(),
            docs.filter(isRetracted(col("doc_id"))))
          ("bm25_vocab_terms", cnt(snap("lex_df")()), cnt(dfAfter))
        }
        // --- IVF assignments (vector grain): q293's REAL artifact and
        // repair path — the frozen-centroid assignment frame and its
        // tombstone anti-join (shared helper ivfAssigned, so a
        // dropped/duplicated row in the assignment path is VISIBLE to
        // this audit; the oracle's embeddings COUNT agrees only because
        // the assignment emits exactly one row per vector) ---
        val ivfF = o.fork {
          val assigned = snap("ivf_assigned")().localCheckpoint()
          val assignedAfter = assigned.join(
            assigned.filter(isRetracted(col("vec_id")))
              .select(col("vec_id")),
            Seq("vec_id"), "left_anti")
          ("ivf_assignment_rows", cnt(assigned), cnt(assignedAfter))
        }
        Seq(bm25F, clusterF, ivfF, lshF).map(_.join)
      }
      rows.toDF("artifact", "rows_before", "rows_after")
        .withColumn("rows_removed", col("rows_before") - col("rows_after"))
        .orderBy(col("artifact"))
    },
    Some {
      val mins = (0 until 8).map(i =>
        s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
      val bandSelects = (0 until 4).map(j =>
        s"SELECT h, CAST($j AS BIGINT) AS band_idx, " +
          s"md5(m${2 * j}||m${2 * j + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      // component-node counts for one corpus world, parameterized by
      // a membership filter (the q284/q289 derivation, reduced to
      // COUNT of labelled nodes)
      def lblCount(name: String, filt: String) = s"""
      memb$name AS (
        SELECT doc_id, md5(nt) AS h, nt
        FROM (SELECT doc_id,
                     regexp_replace(trim(lower(text)),'\\s+',' ','g') AS nt
              FROM corpus)
        WHERE nt IS NOT NULL$filt),
      grp$name AS (SELECT h, MIN(nt) AS nt FROM memb$name GROUP BY 1),
      gsh$name AS (
        SELECT h,
               list_distinct([array_to_string(w[i+1:i+5],' ')
                              FOR i IN range(len(w)-4)]) AS sh
        FROM (SELECT h, string_split(nt, ' ') AS w FROM grp$name)),
      mh$name AS (SELECT h, sh, ${mins.replace("FROM mh", "")} FROM gsh$name),
      bands$name AS (
        SELECT h, band_idx, bh FROM (
          ${bandSelects.replace("FROM mh", s"FROM mh$name")})
        WHERE bh IS NOT NULL),
      cand$name AS (
        SELECT DISTINCT a.h AS g1, b.h AS g2
        FROM bands$name a JOIN bands$name b
        ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.h < b.h),
      e$name AS (
        SELECT g1, g2 FROM cand$name
        JOIN gsh$name s1 ON s1.h = g1
        JOIN gsh$name s2 ON s2.h = g2
        WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
              (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)))
              >= 0.5),
      n$name AS (
        SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS n FROM (
          SELECT g1 AS h FROM e$name UNION ALL SELECT g2 FROM e$name))"""
      val w =
        """string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ')"""
      s"""
      WITH ${DedupQueries.corpusSql},
      ${lblCount("B", "")},
      ${lblCount("A", " AND doc_id % 7 <> 3")},
      sigc AS (
        SELECT doc_id, md5(nt) AS h,
               list_distinct([array_to_string(ww[i+1:i+5],' ')
                              FOR i IN range(len(ww)-4)]) AS sh
        FROM (SELECT doc_id, nt, string_split(nt, ' ') AS ww
              FROM (SELECT doc_id,
                           regexp_replace(trim(lower(text)),'\\s+',' ','g')
                             AS nt
                    FROM documents)
              WHERE nt IS NOT NULL)),
      sigmh AS (SELECT doc_id, sh, $mins FROM sigc),
      sigrows AS (
        SELECT doc_id, bh FROM (
          SELECT doc_id, md5(m0||m1) AS bh FROM sigmh
          UNION ALL SELECT doc_id, md5(m2||m3) FROM sigmh
          UNION ALL SELECT doc_id, md5(m4||m5) FROM sigmh
          UNION ALL SELECT doc_id, md5(m6||m7) FROM sigmh)
        WHERE bh IS NOT NULL),
      lshB AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sigrows),
      lshA AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sigrows
               WHERE doc_id % 7 <> 3),
      tok AS (SELECT doc_id, $w AS ww FROM documents
              WHERE text IS NOT NULL),
      vocB AS (SELECT CAST(COUNT(DISTINCT t.w) AS BIGINT) AS n
               FROM (SELECT unnest(list_distinct(ww)) AS w FROM tok) t),
      vocA AS (SELECT CAST(COUNT(DISTINCT t.w) AS BIGINT) AS n
               FROM (SELECT unnest(list_distinct(ww)) AS w FROM tok
                     WHERE doc_id % 7 <> 3) t),
      ivfB AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
      ivfA AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
               WHERE vec_id % 7 <> 3)
      SELECT artifact, rows_before, rows_after,
             rows_before - rows_after AS rows_removed
      FROM (
        SELECT 'bm25_vocab_terms' AS artifact,
               (SELECT n FROM vocB) AS rows_before,
               (SELECT n FROM vocA) AS rows_after
        UNION ALL
        SELECT 'cluster_label_rows',
               (SELECT n FROM nB), (SELECT n FROM nA)
        UNION ALL
        SELECT 'ivf_assignment_rows',
               (SELECT n FROM ivfB), (SELECT n FROM ivfA)
        UNION ALL
        SELECT 'lsh_signature_rows',
               (SELECT n FROM lshB), (SELECT n FROM lshA))
      ORDER BY artifact
      """
    })

  val registry: Seq[Q] = Seq(q284, q289, q294)
}
