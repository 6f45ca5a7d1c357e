package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.functions.TextOps
import graft.streaming.MarkerProtocol

/** q276 — the MAINTAINED banded-MinHash dedup index (round-15 advice
  * #5). q51/q133 rebuild their LSH state per run; a production corpus
  * pipeline instead PERSISTS the banded signature table and grows it
  * incrementally: train-once on the standing corpus shard, then MERGE
  * each arriving shard's signatures in — never re-shingle history.
  *
  * The enabling algebraic fact (the q140 incremental-maintenance
  * contract applied to dedup): a doc's signature rows depend only on
  * its own text, so `merge(index(A), signatures(B)) == index(A ∪ B)`
  * as sets — LshIndexSpec proves the equivalence directly, and the
  * registry query's oracle re-derives the same statistics from the
  * FULL corpus from scratch (the artifact path and the from-scratch
  * path must agree exactly or the hash check fails).
  *
  * Artifact layout (fingerprint-keyed path, published through
  * [[loadOrBuildParts]] — the [[graft.streaming.MarkerProtocol]]
  * publish, in-JVM memo, counted builds for the spec):
  *   {warehouse}/graft_lshidx/{tag}_{corpus-fingerprint}/rows/
  * holding narrow (doc_id, h, band_idx, bh) rows — signatures only,
  * never shingles: at 100 TB the index is ~4 small rows per document
  * while shingle sets are the corpus itself.
  */
object LshIndexQueries {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(Tables.tuned(s), dir, n)

  /** Standing-shard predicate: 3/4 of the corpus is "history", the
    * remaining quarter is the arriving shard the merge path folds in.
    * Deterministic and oracle-expressible (doc_id % 4). */
  private val shardMod = 4L
  private def isHistory(c: org.apache.spark.sql.Column) =
    c % shardMod =!= (shardMod - 1)

  /** Banded signature rows for a document frame: (doc_id, h, band_idx,
    * bh). h is the exact-dup content hash (md5 of the normalized
    * text); band hashes come from the q51/q241 shared
    * [[DedupQueries.minhashBandTable]] kernel (8 MinHash components,
    * 4 bands of 2) so the maintained index can never drift from the
    * per-run queries' banding scheme. Documents with NULL normalized
    * text carry no signature (the q51 discipline); empty shingle sets
    * yield NULL band hashes and are dropped here — a <5-word document
    * has no 5-gram identity and a NULL "bucket" would otherwise
    * glue all such docs into one giant candidate clique.
    *
    * CONTENT-GROUP grain (the q51/q241 reshape, applied to the index
    * build): a signature depends only on the normalized text, so the
    * shingle+8×MinHash work runs once per DISTINCT content and fans
    * back out to per-doc rows through a membership equi-join —
    * measured 39 s → ~2 s for the ×100 train path, where each text
    * has ~100 replicas. The groupBy shuffles on h FIRST (explicit
    * repartition, user-pinned so AQE keeps the width) so no map-side
    * partial aggregate ever buffers fat text values over a fat scan
    * partition (the round-15 OOM pattern). */
  private[graft] def signatures(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("nt", TextOps.norm(col("text")))
      .filter(col("nt").isNotNull)
      .select(col("doc_id"), md5(col("nt")).as("h"), col("nt"))
    // CONTENT grain UNCONDITIONALLY — deliberately NOT census-gated
    // like the pair family (round-20, measured): the groupBy is not
    // only the dedupe, it is a PUSHDOWN BARRIER. A doc-grain variant
    // (bands straight off the scan, lineage unbroken) let
    // InferFiltersFromGenerate's `size(bands) > 0` predicate push
    // through the projections INTO the parquet scan with the whole
    // signature tree substituted — 8 `element_at(graft_minhash(
    // graft_shingles(...)))` re-evaluations per scan row, measured
    // 0.8 → 3.8 s on the kernel alone at sf0.1 (SCALE.md, "Round-20
    // lesson: InferFiltersFromGenerate pushdown vs expensive lineage";
    // the plan shows the inlined filter in the scan's DataFilters).
    // q51's doc branch is immune because its shingle table is
    // checkpointed (a hard barrier); here the aggregate is the
    // barrier, and at ~1× replication the grouping costs only its own
    // ~equal-cardinality aggregate — there is no toll worth a census.
    val grp = ShufflePlan.pinnedByKey(
      base.select(col("h"), col("nt")), col("h"))
      .groupBy(col("h")).agg(min(col("nt")).as("nt"))
      .withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
    val bands = DedupQueries
      .minhashBandTable(grp.select(col("h"), col("sh")), "h")
      .filter(col("bh").isNotNull)
      .select(col("h"),
        col("band_idx").cast(LongType).as("band_idx"), col("bh"))
    base.select(col("doc_id"), col("h")).join(bands, "h")
      .select(col("doc_id"), col("h"), col("band_idx"), col("bh"))
  }

  // -------------------------------------------------------------------
  // Artifact machinery, shared by every warehouse artifact
  // -------------------------------------------------------------------

  /** Thunks, not frames: artifact-backed entries re-read parquet per
    * call so the harness's between-query storage cleanup can't leave a
    * dangling checkpoint reference. Shared by every
    * [[loadOrBuildParts]] caller — keys carry the artifact path. */
  private val memo = scala.collection.concurrent.TrieMap
    .empty[String, Map[String, () => DataFrame]]

  /** Build counter observable by LshIndexSpec/LexIndexSpec: proves the
    * memo and the artifact load path short-circuit recomputation. */
  private[graft] val buildCount =
    new java.util.concurrent.atomic.AtomicLong

  /** Test hook: drop the in-JVM memo so the next call exercises the
    * artifact LOAD path the way a fresh JVM would. */
  private[graft] def resetMemoForTest(): Unit = memo.clear()

  private[graft] def artifactPath(
      s: SparkSession, dir: String, tag: String): String = {
    val wh = s.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    s"$wh/graft_lshidx/${tag}_${BpeQueries.fingerprint(s, dir)}"
  }

  /** Load the multi-part artifact at `base` if published, else build
    * the parts with `mk` (counted on `builds`, the caller family's
    * counter), publish them through [[MarkerProtocol]] and return
    * artifact-backed readers — falling back to the in-memory frames
    * only if the warehouse is unwritable. Write-once without debris
    * deletion: the warehouse can have racing publishers, whose losers
    * read the winner's identical content. A marker-less dir at `base`
    * is crash debris and is replaced. */
  private[operators] def loadOrBuildParts(s: SparkSession, base: String,
      partNames: Seq[String], mk: () => Map[String, DataFrame],
      builds: java.util.concurrent.atomic.AtomicLong = buildCount)
      : Map[String, () => DataFrame] =
    memo.getOrElseUpdate(s"${s.sparkContext.applicationId}|$base", {
      val conf = s.sparkContext.hadoopConfiguration
      def readers: Map[String, () => DataFrame] =
        partNames.map(p => p -> (() => s.read.parquet(s"$base/$p"))).toMap
      if (MarkerProtocol.isComplete(base, conf)) readers
      else {
        builds.incrementAndGet()
        val parts = mk()
        val published = try {
          MarkerProtocol.publish(s, base, overwrite = false,
            deleteDebris = false) { tmp =>
            partNames.foreach(p => parts(p).write.parquet(s"$tmp/$p"))
            true
          }
          MarkerProtocol.isComplete(base, conf)
        } catch { case scala.util.control.NonFatal(_) => false }
        if (published) readers
        else parts.map { case (p, df) =>
          val fallback = df.localCheckpoint(); p -> (() => fallback)
        }
      }
    })

  /** Single-part convenience (the q276 shape). */
  private def loadOrBuild(s: SparkSession, base: String,
      mk: () => DataFrame): () => DataFrame =
    loadOrBuildParts(s, base, Seq("rows"),
      () => Map("rows" -> mk()))("rows")

  /** The standing index: signatures of the history shard, persisted
    * once per corpus fingerprint. */
  private[graft] def historyIndex(
      s: SparkSession, dir: String): () => DataFrame =
    loadOrBuild(s, artifactPath(s, dir, "hist"), () =>
      signatures(t(s, dir, "documents")
        .filter(isHistory(col("doc_id")))))

  /** The maintained merged index: history artifact UNION the arriving
    * shard's freshly-computed signatures — history is never
    * re-shingled (its rows come off the parquet artifact), which is
    * the whole point of maintaining the index: at 100 TB the arriving
    * shard is the only text that gets tokenized. The merged result is
    * itself published (tag "merged"), so the NEXT shard merges on top
    * of this one — train-once / merge-many. */
  private[graft] def mergedIndex(
      s: SparkSession, dir: String): () => DataFrame =
    loadOrBuild(s, artifactPath(s, dir, "merged"), () =>
      historyIndex(s, dir)().unionByName(
        signatures(t(s, dir, "documents")
          .filter(!isHistory(col("doc_id"))))))

  /** Index-health statistics off the MERGED artifact: per band, how
    * many buckets exist, how many hold ≥2 docs (candidate-generating),
    * the candidate-pair mass Σ m·(m−1)/2 computed FROM BUCKET SIZES
    * (never materializing pairs — the posting-cap lesson), how many
    * multi-doc buckets mix distinct contents (near-dup signal rather
    * than exact-copy echo), and the largest bucket (the skew number a
    * deployment watches before a band join). The oracle recomputes
    * everything from the raw corpus from scratch — artifact content
    * and from-scratch banding must agree bit-for-bit. */
  private val q276 = Q(
    "q276_lsh_index_maintain",
    (s, dir) => {
      val idx = mergedIndex(s, dir)()
      idx.groupBy(col("band_idx"), col("bh"))
        .agg(count(lit(1)).as("m"),
          count_distinct(col("h")).as("g"))
        .groupBy(col("band_idx"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(when(col("m") > 1, 1L).otherwise(0L)).as("n_multi_buckets"),
          sum(expr("m * (m - 1) div 2")).as("n_cand_pairs"),
          sum(when(col("g") > 1, 1L).otherwise(0L)).as("n_mixed_buckets"),
          max(col("m")).as("max_bucket"))
        .orderBy(col("band_idx"))
    },
    Some {
      val mins = (0 until 8).map(i =>
        s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
      val bandSelects = (0 until 4).map(j =>
        s"SELECT doc_id, h, CAST($j AS BIGINT) AS band_idx, " +
          s"md5(m${2 * j}||m${2 * j + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      s"""
      WITH c AS (
        SELECT doc_id, md5(nt) AS h,
               list_distinct([array_to_string(w[i+1:i+5],' ')
                              FOR i IN range(len(w)-4)]) AS sh
        FROM (SELECT doc_id, nt, string_split(nt, ' ') AS w
              FROM (SELECT doc_id,
                           regexp_replace(trim(lower(text)),'\\s+',' ','g')
                             AS nt
                    FROM documents)
              WHERE nt IS NOT NULL)),
      mh AS (SELECT doc_id, h, $mins FROM c),
      bands AS ($bandSelects),
      b AS (SELECT band_idx, bh, COUNT(*) AS m, COUNT(DISTINCT h) AS g
            FROM bands WHERE bh IS NOT NULL GROUP BY 1, 2)
      SELECT band_idx, COUNT(*) AS n_buckets,
             CAST(SUM(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi_buckets,
             CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS n_cand_pairs,
             CAST(SUM(CASE WHEN g > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mixed_buckets,
             MAX(m) AS max_bucket
      FROM b GROUP BY 1 ORDER BY 1
      """
    })

  /** q290 — DELETION for the maintained LSH signature index
    * (round-17 advice #1, the per-row-pure half): a doc's signature
    * rows depend only on its own text, so retraction is a tombstone
    * ANTI-JOIN — no text is ever re-read, no signature recomputed,
    * and the repaired index equals from-scratch signatures of the
    * surviving corpus as sets (LshIndexSpec pins that equality; the
    * oracle re-derives the band statistics from the raw surviving
    * corpus). Tombstones follow the shared
    * [[ClusterIndexQueries.isRetracted]] predicate (doc_id % 7 == 3).
    * At 100 TB the anti-join is a broadcast or shuffle join against a
    * tombstone set many orders smaller than the index — the index
    * row count is the only scan. */
  private val q290 = Q(
    "q290_lsh_index_delete",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val tombs = docs
        .filter(ClusterIndexQueries.isRetracted(col("doc_id")))
        .select(col("doc_id"))
      val idx = mergedIndex(s, dir)()
        .join(tombs, Seq("doc_id"), "left_anti")
      idx.groupBy(col("band_idx"), col("bh"))
        .agg(count(lit(1)).as("m"),
          count_distinct(col("h")).as("g"))
        .groupBy(col("band_idx"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(when(col("m") > 1, 1L).otherwise(0L)).as("n_multi_buckets"),
          sum(expr("m * (m - 1) div 2")).as("n_cand_pairs"),
          sum(when(col("g") > 1, 1L).otherwise(0L)).as("n_mixed_buckets"),
          max(col("m")).as("max_bucket"))
        .orderBy(col("band_idx"))
    },
    Some {
      val mins = (0 until 8).map(i =>
        s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
      val bandSelects = (0 until 4).map(j =>
        s"SELECT doc_id, h, CAST($j AS BIGINT) AS band_idx, " +
          s"md5(m${2 * j}||m${2 * j + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      s"""
      WITH c AS (
        SELECT doc_id, md5(nt) AS h,
               list_distinct([array_to_string(w[i+1:i+5],' ')
                              FOR i IN range(len(w)-4)]) AS sh
        FROM (SELECT doc_id, nt, string_split(nt, ' ') AS w
              FROM (SELECT doc_id,
                           regexp_replace(trim(lower(text)),'\\s+',' ','g')
                             AS nt
                    FROM documents
                    WHERE doc_id % 7 <> 3)
              WHERE nt IS NOT NULL)),
      mh AS (SELECT doc_id, h, $mins FROM c),
      bands AS ($bandSelects),
      b AS (SELECT band_idx, bh, COUNT(*) AS m, COUNT(DISTINCT h) AS g
            FROM bands WHERE bh IS NOT NULL GROUP BY 1, 2)
      SELECT band_idx, COUNT(*) AS n_buckets,
             CAST(SUM(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi_buckets,
             CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS n_cand_pairs,
             CAST(SUM(CASE WHEN g > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mixed_buckets,
             MAX(m) AS max_bucket
      FROM b GROUP BY 1 ORDER BY 1
      """
    })

  val registry: Seq[Q] = Seq(q276, q290)
}
