package graft.operators

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.GBTRegressor
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.functions.TextOps

/** q286 — multi-query LTR with HELD-OUT evaluation (round-16 advice
  * #4): q275 trains and grades the reranker on the same query's
  * shortlist; a production reranker is judged on queries it never
  * saw. Here N = 3 planted retrieval queries (each a term triple +
  * a probe vector) produce per-query fused shortlists; the seeded GBT
  * fits on queries 1–2 and is graded on query 0's shortlist — the
  * contract boolean demands held-out NDCG@10 ≥ the RRF baseline it
  * reranks.
  *
  * Contract shape (the q250/q275 pattern): the OUTPUT is the
  * oracle-exact per-(query, candidate) feature/label table plus
  * constant booleans the seeded model must satisfy, plus the raw
  * held-out dcg_fused decimal (oracle-recomputed exactly) so a future
  * red flag is diagnosable as model drift vs algebra bug.
  *
  * Scale shape — better than q275's three scans: the corpus text is
  * tokenized ONCE for all 9 terms (tf0..tf8 + dl in one slim
  * checkpoint), the embeddings are scanned ONCE for all 3 probe sims
  * (sim0..sim2 in one slim checkpoint), and each query's shortlist is
  * a TakeOrderedAndProject over the shared slim frame. The fit,
  * rerank window, and NDCG algebra run on ≤ 3·2K rows
  * (constant-bounded by construction). At 100 TB: two fat scans
  * total, independent of N.
  */
object LtrHoldoutQueries {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(Tables.tuned(s), dir, n)

  /** The N = 3 planted queries: term triples over the corpus
    * vocabulary + probe vector ids. Query 0 is the HELD-OUT one. */
  private val qterms: Seq[Seq[String]] = Seq(
    Seq("merge", "sort", "window"),
    Seq("hash", "join", "filter"),
    Seq("scan", "vector", "stream"))
  private val allTerms: Seq[String] = qterms.flatten
  private val k1 = 1.2
  private val b = 0.75
  private val K = 20

  private val disc: Seq[Double] = (1 to 10).map(p =>
    BigDecimal(math.log(p + 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

  private def asDouble(c: Column): Column =
    transform(c, x => x.cast(DoubleType))
  private def dot(a: Column, b: Column): Column =
    graft.plans.VectorFunctions.dot(a, b)
  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Per-(qid, candidate) feature/label table over the three fused
    * shortlists. Features: bm25f, simf, dl, overlap_cnt, densein —
    * label rel_u = 2·overlap_cnt + densein is an exact function of
    * (overlap_cnt, densein), so a reranker that LEARNS the labeling
    * from two queries transfers it exactly to the third: precisely
    * the generalization the held-out contract grades. */
  private[graft] def features(s: SparkSession, dir: String): DataFrame = {
    // round 21 (guide §2.6): the lexical chain (tf → stats → scored)
    // and the dense chain (probes → sims) read DIFFERENT tables and
    // share nothing until the shortlists join them — overlap their
    // eager checkpoint jobs (identical frames, identical plans; only
    // job submission overlaps)
    val (scored, sims) = Overlap.scope { o =>
      val scoredF = o.fork {
        // ---- lexical side: ONE tokenize pass for all 9 terms ----
        // Adaptive content grain (round 21, the q251/q253 reshape): tf
        // and dl are pure functions of the RAW text, so on a replicated
        // corpus the tokenize + 9 term-count projections run once per
        // DISTINCT text and fan out through a slim (doc_id, th)
        // membership join — at ×100 (verbatim 100× replication) that is
        // ~replication× less regex work for byte-identical rows. The
        // census (the dedup family's 1.5× cut, GRAFT_GRAIN_FORCE
        // honored) keeps the direct per-doc form on low-replication
        // corpora where the md5+join detour dedupes nothing. Per-doc
        // stats (n, avgdl, df) aggregate the fanned-out doc-grain frame
        // either way — identical values.
        val rawDocs = t(s, dir, "documents").filter(col("text").isNotNull)
        val withTf = (d: org.apache.spark.sql.DataFrame) =>
          allTerms.zipWithIndex.foldLeft(
            d.withColumn("dl", size(col("w")).cast(DoubleType))) {
            case (x, (term, i)) =>
              x.withColumn(s"tf$i",
                size(filter(col("w"), y => y === term)).cast(DoubleType))
          }.drop("w")
        // round 22 (ADVICE #2): the census runs as a plain aggregate
        // over the scan — the old checkpointed membership frame was
        // computed on every run solely to make the grain decision and
        // then DISCARDED on the doc-grain branch (a full md5 pass plus
        // a checkpoint job for nothing there); the content branch, the
        // only consumer, materializes it after the decision
        val membIn = rawDocs
          .select(col("doc_id"), md5(col("text")).as("h"))
        val tf = (if (DedupQueries.contentGrainByCensus(membIn)) {
          val memb = membIn.localCheckpoint()
          val gtf = withTf(
            rawDocs.select(md5(col("text")).as("h"), col("text"))
              .groupBy(col("h")).agg(min(col("text")).as("text"))
              .select(col("h"), TextOps.words(col("text")).as("w")))
          memb.join(gtf, "h").drop("h")
        } else {
          withTf(rawDocs
            .select(col("doc_id"), TextOps.words(col("text")).as("w")))
        }).localCheckpoint()
        val aggs = count(lit(1)).cast(DoubleType).as("n") +:
          avg(col("dl")).as("avgdl") +:
          allTerms.indices.map(i =>
            sum(when(col(s"tf$i") > 0, 1).otherwise(0))
              .cast(DoubleType).as(s"df$i"))
        val stats = tf.agg(aggs.head, aggs.tail: _*)
        tf.crossJoin(broadcast(stats)).localCheckpoint()
      }
      // ---- dense side: ONE embeddings pass for all 3 probe sims ----
      val simsF = o.fork {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        val probes = e.filter(col("vec_id") < qterms.size)
          .groupBy().pivot("vec_id").agg(first(col("v")))
          .select((0 until qterms.size).map(q =>
            col(q.toString).as(s"pv$q")): _*)
        e.crossJoin(broadcast(probes))
          .select(col("vec_id") +:
            (0 until qterms.size).map(q =>
              cosine(col("v"), col(s"pv$q")).as(s"sim$q")): _*)
          .localCheckpoint()
      }
      (scoredF.join, simsF.join)
    }
    // ---- per-query shortlists + fusion over the slim frames ----
    val perQ = qterms.zipWithIndex.map { case (terms, q) =>
      val idx = terms.map(allTerms.indexOf)
      val score = idx.map { i =>
        val idf = log(lit(1.0) +
          (col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
        idf * (col(s"tf$i") * lit(k1 + 1)) /
          (col(s"tf$i") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
      }.reduce(_ + _)
      val lex = scored
        .select(col("doc_id"), round(score, 4).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(K)
        .withColumn("lex_rank",
          row_number().over(
            Window.orderBy(col("bm25").desc, col("doc_id")))
            .cast(LongType))
      val dense = sims
        .select(col("vec_id").as("doc_id"), col(s"sim$q").as("sim"))
        .orderBy(col("sim").desc, col("doc_id").asc).limit(K)
        .withColumn("dense_rank",
          row_number().over(
            Window.orderBy(col("sim").desc, col("doc_id")))
            .cast(LongType))
      val fusedQ = lex.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rrf_u",
          coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + dense_rank)"), lit(0L)))
        .withColumn("fused_rank",
          row_number().over(
            Window.orderBy(col("rrf_u").desc, col("doc_id")))
            .cast(LongType))
      val overlap = idx.map(i =>
        when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
      val feat = scored.select(col("doc_id"),
        col("dl").cast(LongType).as("dl"), overlap.as("overlap_cnt"))
      feat.join(broadcast(fusedQ), "doc_id")
        .select(lit(q.toLong).as("qid"), col("doc_id"),
          coalesce(col("bm25"), lit(0.0)).as("bm25f"),
          coalesce(round(col("sim"), 6), lit(0.0)).as("simf"),
          col("dl"), col("overlap_cnt"),
          when(col("dense_rank").isNotNull, 1L).otherwise(0L)
            .as("densein"),
          (col("overlap_cnt") * 2 +
            when(col("dense_rank").isNotNull, 1L).otherwise(0L))
            .as("rel_u"),
          col("fused_rank"))
    }
    perQ.reduce(_.unionByName(_))
  }

  private def dcgTerm(rank: Column, discLit: Column) =
    sum(when(rank <= 10,
      round(col("rel_u").cast(DoubleType) /
        element_at(discLit, rank.cast(IntegerType)), 6)
        .cast(DecimalType(18, 6)))
      .otherwise(lit(0).cast(DecimalType(18, 6))))

  /** Fit on queries ≠ fold, predict + rerank on the held-out query
    * `fold` — factored so the LtrHoldoutSpec planted-fixture claim
    * runs the exact code the registry queries run (q286 grades fold
    * 0; q292 rotates all three). Deterministic: seeded GBT over a
    * materialized deterministic frame. */
  private[graft] def heldoutRerank(feats: DataFrame,
      fold: Long = 0L): DataFrame =
    heldoutRerankOn(
      feats.withColumn("rel_d", col("rel_u").cast(DoubleType))
        .localCheckpoint(),
      fold)

  /** [[heldoutRerank]] over a PRE-CHECKPOINTED labeled frame — q292
    * builds the labeled checkpoint once and fits its folds
    * concurrently (round 21, guide §2.6: each fold's seeded GBT fit is
    * a chain of tiny jobs whose cost is per-job scheduling latency;
    * the folds share nothing, so overlapping them collapses wall time
    * without changing any result — the q63/CrossValidator-parallelism
    * pattern). */
  private[graft] def heldoutRerankOn(labeled: DataFrame,
      fold: Long): DataFrame = {
    val assembler = new VectorAssembler()
      .setInputCols(Array("bm25f", "simf", "dl", "overlap_cnt",
        "densein"))
      .setOutputCol("fv")
    val gbt = new GBTRegressor()
      .setLabelCol("rel_d").setFeaturesCol("fv")
      .setMaxIter(10).setSeed(7L)
    val model = gbt.fit(
      assembler.transform(labeled.filter(col("qid") =!= fold)))
    model
      .transform(assembler.transform(labeled.filter(col("qid") === fold)))
      .withColumnRenamed("prediction", "pred")
      .withColumn("rerank_rank",
        row_number().over(
          Window.orderBy(col("pred").desc, col("doc_id"))))
      .drop("fv", "rel_d")
  }

  private[operators] val q286 = Q(
    "q286_ltr_heldout",
    (s, dir) => {
      // ONE checkpoint serves both consumers (round 22, verdict #2
      // job-count cut): the labeled frame is feats plus one derived
      // cast, so checkpointing feats and then labeled materialized the
      // same ≤2K-row fusion output twice back-to-back; the GBT side
      // reads `labeled`, the output side reads labeled.drop(rel_d) —
      // identical columns and rows to the former feats checkpoint
      val labeled = features(s, dir)
        .withColumn("rel_d", col("rel_u").cast(DoubleType))
        .localCheckpoint()
      val heldout = heldoutRerankOn(labeled, 0L)
      val discLit = typedlit(disc)
      val contract = heldout.agg(
        dcgTerm(col("rerank_rank"), discLit).as("dcg_rerank"),
        dcgTerm(col("fused_rank"), discLit).as("dcg_fused"),
        count_distinct(col("pred")).as("n_pred"),
        count_distinct(col("rel_u")).as("n_lab"))
        .select(
          (col("dcg_rerank") >= col("dcg_fused"))
            .as("heldout_rerank_ge_rrf"),
          (col("n_lab") <= 1 || col("n_pred") >= 2)
            .as("pred_discriminates"),
          col("dcg_fused").cast(DecimalType(18, 6))
            .as("dcg_fused_heldout"))
      labeled.drop("rel_d").crossJoin(broadcast(contract))
        .orderBy(col("qid"), col("fused_rank"))
    },
    Some {
      val w =
        """string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ')"""
      val tfCols = allTerms.zipWithIndex.map { case (term, i) =>
        s"CAST(len(list_filter(w, x -> x = '$term')) AS DOUBLE) AS tf$i"
      }.mkString(", ")
      val dfCols = allTerms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
        .mkString(", ")
      val duckCos = "list_dot_product(v, pv) / " +
        "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv)))"
      val perQ = qterms.zipWithIndex.map { case (terms, q) =>
        val idx = terms.map(allTerms.indexOf)
        val score = idx.map(i =>
          s"ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ${k1 + 1}) / " +
            s"(tf$i + $k1 * (${1.0 - b} + $b * dl / avgdl))")
          .mkString(" + ")
        val overlap = idx.map(i =>
          s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
        s"""
        lex_top$q AS (
          SELECT doc_id, round($score, 4) AS bm25
          FROM tf, stats
          ORDER BY round($score, 4) DESC, doc_id LIMIT $K),
        lex$q AS (
          SELECT doc_id, CAST(row_number() OVER
            (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank, bm25
          FROM lex_top$q),
        p$q AS (SELECT v AS pv FROM e WHERE vec_id = $q),
        dense_top$q AS (
          SELECT vec_id, $duckCos AS sim
          FROM e, p$q
          ORDER BY $duckCos DESC, vec_id ASC LIMIT $K),
        dense$q AS (
          SELECT vec_id AS doc_id, CAST(row_number() OVER
            (ORDER BY sim DESC, vec_id) AS BIGINT) AS dense_rank, sim
          FROM dense_top$q),
        fused$q AS (
          SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
                 l.bm25, d.dense_rank, d.sim,
                 CAST(row_number() OVER (ORDER BY
                   COALESCE(1000000 // (60 + l.lex_rank), 0) +
                     COALESCE(1000000 // (60 + d.dense_rank), 0) DESC,
                   COALESCE(l.doc_id, d.doc_id)) AS BIGINT) AS fused_rank
          FROM lex$q l FULL OUTER JOIN dense$q d ON l.doc_id = d.doc_id),
        feats$q AS (
          SELECT CAST($q AS BIGINT) AS qid, f.doc_id,
                 COALESCE(f.bm25, 0.0) AS bm25f,
                 COALESCE(round(f.sim, 6), 0.0) AS simf,
                 CAST(t.dl AS BIGINT) AS dl,
                 CAST($overlap AS BIGINT) AS overlap_cnt,
                 CAST(CASE WHEN f.dense_rank IS NOT NULL
                   THEN 1 ELSE 0 END AS BIGINT) AS densein,
                 CAST(($overlap) * 2 +
                   CASE WHEN f.dense_rank IS NOT NULL THEN 1 ELSE 0 END
                   AS BIGINT) AS rel_u,
                 f.fused_rank
          FROM fused$q f JOIN tf t USING (doc_id))"""
      }.mkString(",")
      val discSql = disc.map(d => f"$d%.6f").mkString("[", ", ", "]")
      s"""
        WITH tok AS (SELECT doc_id, $w AS w FROM documents
                     WHERE text IS NOT NULL),
        tf AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, $tfCols
               FROM tok),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
                         $dfCols FROM tf),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $perQ,
        feats AS (SELECT * FROM feats0 UNION ALL
                  SELECT * FROM feats1 UNION ALL
                  SELECT * FROM feats2)
        SELECT qid, doc_id, bm25f, simf, dl, overlap_cnt, densein,
               rel_u, fused_rank,
               TRUE AS heldout_rerank_ge_rrf,
               TRUE AS pred_discriminates,
               (SELECT CAST(SUM(CASE WHEN fused_rank <= 10
                   THEN CAST(round(CAST(rel_u AS DOUBLE) /
                     ($discSql)[fused_rank], 6) AS DECIMAL(18,6))
                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(18,6))
                FROM feats WHERE qid = 0) AS dcg_fused_heldout
        FROM feats ORDER BY qid, fused_rank
        """
    })

  /** q292 — k-FOLD rotation of the held-out contract (round-17 advice
    * #5): q286 grades ONE fixed fold (fit on queries 1–2, grade on
    * 0); a lucky fold could hide a reranker that fails to generalize
    * from other training pairs. Here all three folds rotate — fit on
    * the other two, grade on the held-out one — and EVERY fold's
    * held-out DCG@10 must meet the RRF baseline, with the per-fold
    * raw DCG decimals and their exact sum emitted for
    * drift-vs-algebra diagnosis (the q275/q286 discipline). The
    * features are fold-independent, computed ONCE off the same two
    * fat scans as q286 — rotating folds adds two more GBT fits on
    * ≤ 2K-row frames, never another corpus pass. */
  private val q292 = Q(
    "q292_ltr_kfold",
    (s, dir) => {
      val discLit = typedlit(disc)
      // ONE labeled checkpoint shared by every fold (was one per fold)
      // and the seeded per-fold GBT fits run concurrently — identical
      // models, identical rows; only job submission overlaps. The
      // former separate feats checkpoint had no other consumer here
      // (round 22, verdict #2): labeled materializes the fusion
      // output directly, one checkpoint job instead of two
      val labeled = features(s, dir)
        .withColumn("rel_d", col("rel_u").cast(DoubleType))
        .localCheckpoint()
      val reranked = Overlap.scope { o =>
        (0L until qterms.size.toLong)
          .map(f => o.fork(heldoutRerankOn(labeled, f)
            .withColumn("fold", lit(f))))
          .map(_.join)
      }
      // round 22 (job-count cut): ONE union + ONE grouped aggregate
      // replaces the per-fold 1-row aggregates, their union
      // checkpoint, and the broadcast cross-join for the total — the
      // per-fold values are identical (same aggregates, grouped by
      // the fold tag) and the total folds in as a global window over
      // the 3-row aggregate output instead of a second job
      val perFold = reranked.reduce(_.unionByName(_))
        .groupBy(col("fold"))
        .agg(
          dcgTerm(col("rerank_rank"), discLit).as("dcg_rerank"),
          dcgTerm(col("fused_rank"), discLit).as("dcg_fused"),
          count_distinct(col("pred")).as("n_pred"),
          count_distinct(col("rel_u")).as("n_lab"))
        .select(col("fold"),
          (col("dcg_rerank") >= col("dcg_fused"))
            .as("heldout_rerank_ge_rrf"),
          (col("n_lab") <= 1 || col("n_pred") >= 2)
            .as("pred_discriminates"),
          col("dcg_fused").cast(DecimalType(18, 6))
            .as("dcg_fused_heldout"))
      perFold
        .withColumn("sum_dcg_fused",
          sum(col("dcg_fused_heldout"))
            .over(Window.partitionBy())
            .cast(DecimalType(18, 6)))
        .orderBy(col("fold"))
    },
    Some {
      val w =
        """string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ')"""
      val tfCols = allTerms.zipWithIndex.map { case (term, i) =>
        s"CAST(len(list_filter(w, x -> x = '$term')) AS DOUBLE) AS tf$i"
      }.mkString(", ")
      val dfCols = allTerms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
        .mkString(", ")
      val duckCos = "list_dot_product(v, pv) / " +
        "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv)))"
      val perQ = qterms.zipWithIndex.map { case (terms, q) =>
        val idx = terms.map(allTerms.indexOf)
        val score = idx.map(i =>
          s"ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ${k1 + 1}) / " +
            s"(tf$i + $k1 * (${1.0 - b} + $b * dl / avgdl))")
          .mkString(" + ")
        val overlap = idx.map(i =>
          s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
        s"""
        lex_top$q AS (
          SELECT doc_id, round($score, 4) AS bm25
          FROM tf, stats
          ORDER BY round($score, 4) DESC, doc_id LIMIT $K),
        lex$q AS (
          SELECT doc_id, CAST(row_number() OVER
            (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank, bm25
          FROM lex_top$q),
        p$q AS (SELECT v AS pv FROM e WHERE vec_id = $q),
        dense_top$q AS (
          SELECT vec_id, $duckCos AS sim
          FROM e, p$q
          ORDER BY $duckCos DESC, vec_id ASC LIMIT $K),
        dense$q AS (
          SELECT vec_id AS doc_id, CAST(row_number() OVER
            (ORDER BY sim DESC, vec_id) AS BIGINT) AS dense_rank, sim
          FROM dense_top$q),
        fused$q AS (
          SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
                 d.dense_rank,
                 CAST(row_number() OVER (ORDER BY
                   COALESCE(1000000 // (60 + l.lex_rank), 0) +
                     COALESCE(1000000 // (60 + d.dense_rank), 0) DESC,
                   COALESCE(l.doc_id, d.doc_id)) AS BIGINT) AS fused_rank
          FROM lex$q l FULL OUTER JOIN dense$q d ON l.doc_id = d.doc_id),
        rel$q AS (
          SELECT CAST($q AS BIGINT) AS qid, f.fused_rank,
                 CAST(($overlap) * 2 +
                   CASE WHEN f.dense_rank IS NOT NULL THEN 1 ELSE 0 END
                   AS BIGINT) AS rel_u
          FROM fused$q f JOIN tf t USING (doc_id))"""
      }.mkString(",")
      val discSql = disc.map(d => f"$d%.6f").mkString("[", ", ", "]")
      s"""
        WITH tok AS (SELECT doc_id, $w AS w FROM documents
                     WHERE text IS NOT NULL),
        tf AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, $tfCols
               FROM tok),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
                         $dfCols FROM tf),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $perQ,
        rel AS (SELECT * FROM rel0 UNION ALL
                SELECT * FROM rel1 UNION ALL
                SELECT * FROM rel2),
        folddcg AS (
          SELECT qid AS fold,
                 CAST(SUM(CASE WHEN fused_rank <= 10
                   THEN CAST(round(CAST(rel_u AS DOUBLE) /
                     ($discSql)[fused_rank], 6) AS DECIMAL(18,6))
                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(18,6))
                   AS dcg_fused_heldout
          FROM rel GROUP BY qid)
        SELECT fold, TRUE AS heldout_rerank_ge_rrf,
               TRUE AS pred_discriminates, dcg_fused_heldout,
               (SELECT CAST(SUM(dcg_fused_heldout) AS DECIMAL(18,6))
                FROM folddcg) AS sum_dcg_fused
        FROM folddcg ORDER BY fold
        """
    })

  val registry: Seq[Q] = Seq(q286, q292)
}
