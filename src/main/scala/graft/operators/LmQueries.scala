package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.functions.Exprs.{asLong, md5Int32}

/** Round-13 wave: statistical language-model data curation — the two
  * published selection methods a large-scale LLM corpus pipeline runs
  * between dedup and packing that the registry did not yet cover at
  * their real grain:
  *
  *  - CCNet-style perplexity bucketing (Wenzek et al. 2020): fit an
  *    n-gram LM per language on a curated reference tier, score every
  *    document's cross-entropy under it, and cut each language into
  *    head/middle/tail terciles. q129 is the unigram stand-in; q252 is
  *    the real shape — an interpolated bigram LM with add-one unigram
  *    backoff, trained on a reference partition rather than the corpus
  *    being scored (self-trained LMs score boilerplate as high-quality).
  *
  *  - DSIR hashed n-gram importance weights (Xie et al. 2023): score
  *    each document by how much more likely its hashed unigram+bigram
  *    features are under the target (curated-tier) bag-of-ngrams model
  *    than under the raw-pool model, and select the top-weight slice.
  *
  * The reference system has no text-statistics surface at all (its
  * pipeline is Kafka batching + four food-rating models,
  * spark_model_trainer.py); both operators are engine extensions in the
  * LLM-training-data tier.
  *
  * Exactness discipline: every per-token/per-feature ln rounds to 6 dp
  * into DECIMAL(18,6) before any cross-row sum (the q109/q129 ln-ulp
  * discipline), double arithmetic only on operands both engines derive
  * identically and in identical expression order, integer outputs pinned
  * to BIGINT.
  */
object LmQueries {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(Tables.tuned(s), dir, n)

  /** The curated reference tier both operators train against — the
    * in-fixture stand-in for CCNet's Wikipedia / DSIR's target corpus.
    * Four of the twenty sources, fixed and documented, so the "train on
    * curated, score the crawl" asymmetry is real. */
  private val RefTier = Seq("src0", "src1", "src2", "src3")
  private val refTierSql = RefTier.map(s => s"'$s'").mkString(", ")

  /** Tokens with 1-based position and the preceding word (NULL for the
    * first token): one per-row array pass, no shuffle — bigram context
    * is attached before the explode, so the LM joins below are plain
    * vocabulary-key equi-joins.
    *
    * Null text contributes ZERO tokens on both engines: DuckDB's
    * range(1, NULL) unnests to no rows, but Spark's size(NULL) = -1
    * would turn sequence(1, size(ws)) into the DESCENDING [1, 0, -1]
    * and mint three phantom null tokens per null document (the
    * round-12 size(NULL) divergence class — caught by the round-13
    * nasty sweep), so null word arrays are filtered out first. */
  private def tokensWithContext(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", graft.functions.TextOps.words(col("text")))
      .filter(col("ws").isNotNull)
      // zip each word with its predecessor (null for the doc-initial
      // token) via zip_with over the array and its shifted self.
      // NOT transform(sequence(1, size(ws)), i -> element_at(ws, i)):
      // CollapseProject inlines ws = split(norm(text)) into the lambda
      // and higher-order lambdas re-evaluate their body per ELEMENT, so
      // the indexed form re-ran the normalize+split regex once per
      // token — O(tokens²) per document, measured 13 s of q253's 13.9 s
      // at sf0.1. As zip_with ARGUMENTS the arrays are evaluated once
      // per row (and codegen CSE dedupes the repeated subtree).
      .select(col("doc_id"), col("lang"), explode(expr(
        "zip_with(ws, concat(array(CAST(NULL AS STRING)), " +
          "slice(ws, 1, size(ws) - 1)), (x, y) -> struct(x as w, y as v))"))
        .as("tk"))
      .select(col("doc_id"), col("lang"), col("tk.w"), col("tk.v"))

  /** CCNet-style perplexity filter: per-language interpolated bigram LM
    * fit on the curated reference tier, cross-entropy scored over EVERY
    * document, head/middle/tail buckets cut at exact per-language
    * cross-entropy terciles.
    *
    * Model: p(w|v) = 0.9·c2(v,w)/c2(v,·) + 0.1·p1(w), with add-one
    * unigram p1(w) = (c1(w)+1)/(N+V+1); an unseen context (or the
    * document-initial token, which has none) backs off to p1 entirely.
    * Per-token ln(p) rounds to 6 dp into DECIMAL(18,6) so the per-doc
    * sum is order-independent; ce = −mean, 4 dp.
    *
    * Scale shape: the LM tables are reference-tier VOCABULARY-scale
    * aggregates (unigram, bigram, context-total), the scoring side is
    * three equi-joins on vocabulary keys (hot words join 1:1 against a
    * single LM row — no skew amplification), per-language totals are a
    * 5-row broadcast, and the tercile thresholds are one exact-percentile
    * aggregate per language (q131 discipline) broadcast back for a
    * map-side bucket assignment — NOT an ntile window, which would sort
    * each language's entire document set in one partition at 100 TB.
    * The scored per-doc frame is localCheckpointed because both the
    * threshold aggregate and the final rollup consume it (one row per
    * document — bounded by corpus cardinality, not token volume).
    * Languages absent from the reference tier have no LM and are
    * excluded (CCNet semantics), identically in both engines. */
  /** q252's per-document cross-entropy frame (doc_id, lang, n_tok, ce)
    * — factored out so LmSpec can measure boundary-tie multiplicity
    * against the same rounded-ce values the bucket cut sees. */
  private[graft] def docCeFrame(s: SparkSession, dir: String): DataFrame = {
      val docs = t(s, dir, "documents")
      val toks = tokensWithContext(docs)
      val ref = tokensWithContext(docs.filter(col("source").isin(RefTier: _*)))
      // round 21 (guide §2.6): the unigram and bigram LM tables are
      // independent aggregates of the same reference-tier tokenize —
      // their checkpoint jobs overlap (each job re-runs the ref explode;
      // concurrent submission makes the wall the max, not the sum, and
      // the shared scan stages back-fill each other's tails)
      val (uni, big) = Overlap.scope { o =>
        val uf = o.fork(ref.groupBy(col("lang"), col("w"))
          .agg(count(lit(1)).as("c1")).localCheckpoint())
        val bf = o.fork(ref.filter(col("v").isNotNull)
          .groupBy(col("lang"), col("v"), col("w"))
          .agg(count(lit(1)).as("c2")).localCheckpoint())
        (uf.join, bf.join)
      }
      val nv = uni.groupBy(col("lang"))
        .agg(sum(col("c1")).as("n_lm"), count(lit(1)).as("v_lm"))
      val cv = big.groupBy(col("lang"), col("v")).agg(sum(col("c2")).as("cv"))
      val scored = toks
        .join(uni, Seq("lang", "w"), "left")
        .join(big, Seq("lang", "v", "w"), "left")
        .join(cv, Seq("lang", "v"), "left")
        .join(broadcast(nv), Seq("lang"))
        .withColumn("pu",
          (coalesce(col("c1"), lit(0L)) + lit(1L)).cast(DoubleType) /
            (col("n_lm") + col("v_lm") + lit(1L)).cast(DoubleType))
        .withColumn("p", when(col("v").isNull || col("cv").isNull, col("pu"))
          .otherwise(lit(0.9) *
            (coalesce(col("c2"), lit(0L)).cast(DoubleType) /
              col("cv").cast(DoubleType)) + lit(0.1) * col("pu")))
        .select(col("doc_id"), col("lang"),
          round(log(col("p")), 6).cast(DecimalType(18, 6)).as("lp"))
      scored.groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_tok"),
          round(-(sum(col("lp")).cast(DoubleType) / count(lit(1))), 4)
            .as("ce"))
        .localCheckpoint()
  }

  private val q252 = Q(
    "q252_lm_perplexity_buckets",
    (s, dir) => {
      val docCe = docCeFrame(s, dir)
      val thr = docCe.groupBy(col("lang"))
        .agg(percentile(col("ce"), lit(1.0 / 3)).as("t1"),
          percentile(col("ce"), lit(2.0 / 3)).as("t2"))
      docCe.join(broadcast(thr), Seq("lang"))
        .withColumn("bucket", when(col("ce") <= col("t1"), lit("head"))
          .when(col("ce") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")))
        .groupBy(col("lang"), col("bucket"))
        .agg(asLong(count(lit(1))).as("n_docs"),
          asLong(sum(col("n_tok"))).as("total_tokens"),
          round(sum(col("ce").cast(DecimalType(18, 4))).cast(DoubleType) /
            count(lit(1)), 4).as("mean_ce"))
    },
    Some(s"""
      WITH doc AS (
        SELECT doc_id, lang, source,
               string_split(regexp_replace(trim(lower(text)),
                 '\\s+',' ','g'),' ') AS l
        FROM documents),
      tok AS (
        SELECT doc_id, lang, source, l[i] AS w,
               CASE WHEN i > 1 THEN l[i-1] END AS v
        FROM (SELECT doc_id, lang, source, l,
                     unnest(range(1, len(l) + 1)) AS i FROM doc)),
      uni AS (SELECT lang, w, COUNT(*) AS c1 FROM tok
              WHERE source IN ($refTierSql) GROUP BY 1, 2),
      nv AS (SELECT lang, SUM(c1) AS n_lm, COUNT(*) AS v_lm
             FROM uni GROUP BY 1),
      big AS (SELECT lang, v, w, COUNT(*) AS c2 FROM tok
              WHERE source IN ($refTierSql) AND v IS NOT NULL
              GROUP BY 1, 2, 3),
      cv AS (SELECT lang, v, SUM(c2) AS cv FROM big GROUP BY 1, 2),
      lp AS (
        SELECT t.doc_id, t.lang,
               CAST(round(ln(CASE
                 WHEN t.v IS NULL OR cv.cv IS NULL THEN
                   CAST(coalesce(uni.c1, 0) + 1 AS DOUBLE) /
                   CAST(nv.n_lm + nv.v_lm + 1 AS DOUBLE)
                 ELSE 0.9 * (CAST(coalesce(big.c2, 0) AS DOUBLE) /
                        CAST(cv.cv AS DOUBLE)) +
                      0.1 * (CAST(coalesce(uni.c1, 0) + 1 AS DOUBLE) /
                        CAST(nv.n_lm + nv.v_lm + 1 AS DOUBLE))
               END), 6) AS DECIMAL(18,6)) AS lp
        FROM tok t
        LEFT JOIN uni ON uni.lang = t.lang AND uni.w = t.w
        LEFT JOIN big ON big.lang = t.lang AND big.v = t.v AND big.w = t.w
        LEFT JOIN cv  ON cv.lang = t.lang AND cv.v = t.v
        JOIN nv ON nv.lang = t.lang),
      ce AS (
        SELECT doc_id, lang, COUNT(*) AS n_tok,
               round(-(CAST(SUM(lp) AS DOUBLE) / COUNT(*)), 4) AS ce
        FROM lp GROUP BY 1, 2),
      thr AS (
        SELECT lang, quantile_cont(ce, 1.0/3) AS t1,
               quantile_cont(ce, 2.0/3) AS t2
        FROM ce GROUP BY 1)
      SELECT ce.lang,
             CASE WHEN ce <= t1 THEN 'head'
                  WHEN ce <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
             round(CAST(SUM(CAST(ce AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*), 4) AS mean_ce
      FROM ce JOIN thr ON thr.lang = ce.lang
      GROUP BY 1, 2
    """))

  /** DSIR data selection (Xie et al. 2023, the top-weight deterministic
    * variant): hashed unigram+bigram features (md5 bucket, B=1024 —
    * Exprs.md5Int32 so DuckDB reproduces the bucketing byte-for-byte),
    * bag-of-ngrams models with Laplace α=0.5 for the target (curated
    * tier) and raw (whole pool) distributions, per-document log
    * importance weight Σ_b n_b·ln(p_target(b)/p_raw(b)), top-20
    * selection.
    *
    * Scale shape: ONE explode pass builds the per-doc feature
    * histogram (doc_id × bucket, ≤1024 distinct buckets per doc — the
    * map-side combine compresses token volume to histogram volume);
    * both the target and raw bucket totals come from that SAME
    * histogram in one 1024-row aggregate (a flag column, not a second
    * corpus scan — the curated tier is a subset of the pool), the
    * log-ratio table is 1024 rows broadcast back, and the weight is a
    * map-side decimal dot-product followed by one per-doc sum. The
    * histogram is localCheckpointed because the bucket totals and the
    * weight join both consume it. */
  private val q253 = Q(
    "q253_dsir_selection",
    (s, dir) => {
      // CONTENT-GROUP grain (round-18, the q251/q276 reshape): the
      // hashed n-gram histogram depends only on the normalized text,
      // so it is built once per DISTINCT content and every doc-grain
      // statistic derives through the slim (doc_id, source, h)
      // membership frame — the corpus-scale doc×bucket histogram
      // (50M rows, multi-GB persisted, the round-15 OOM surface)
      // never exists. Bucket totals weight each content histogram by
      // its tier member counts (exact integers); the per-doc weight
      // IS the per-content weight, fanned out at the very end into a
      // TakeOrdered over slim rows.
      val base = t(s, dir, "documents")
        .withColumn("nt", graft.functions.TextOps.norm(col("text")))
        .filter(col("nt").isNotNull)
        .select(col("doc_id"), col("source"), md5(col("nt")).as("h"),
          col("nt"))
      // the membership frame and the per-content histogram are
      // INDEPENDENT derivations of `base` (neither reads the other);
      // their checkpoint jobs overlap (guide §2.6, the q252 uni/big
      // pattern) so the slim memb pass back-fills the CPU-dense
      // explode/aggregate stage's tail instead of serializing after it
      val (memb, hb) = Overlap.scope { o =>
        val mf = o.fork(base.select(col("doc_id"), col("source"), col("h"))
          .localCheckpoint())
        val hf = o.fork(graft.operators.ShufflePlan.pinnedByKey(
          base.select(col("h"), col("nt")), col("h"))
          .groupBy(col("h")).agg(min(col("nt")).as("nt"))
          .withColumn("ws", split(col("nt"), " "))
          // bigrams as zip_with over the array and its tail — never
          // element_at inside a lambda, which re-evaluates the inlined
          // lineage per element (see tokensWithContext)
          .withColumn("ngs", expr(
            "concat(ws, CASE WHEN size(ws) >= 2 THEN " +
              "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), " +
              "(x, y) -> concat(x, ' ', y)) " +
              "ELSE slice(ws, 1, 0) END)"))
          .select(col("h"), explode(col("ngs")).as("ng"))
          .select(col("h"), (md5Int32(col("ng")) % 1024).as("b"))
          .groupBy(col("h"), col("b"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint())
        (mf.join, hf.join)
      }
      val membCounts = memb.groupBy(col("h"))
        .agg(sum(when(col("source").isin(RefTier: _*), 1L)
          .otherwise(0L)).as("n_ref"), count(lit(1)).as("n_all"))
      val stats = hb.join(membCounts, "h")
        .groupBy(col("b"))
        .agg(sum(col("cnt") * col("n_ref")).as("ct"),
          sum(col("cnt") * col("n_all")).as("cr"))
      val totals = stats.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
      val ratio = stats.crossJoin(broadcast(totals))
        .select(col("b"), round(log(
          ((col("ct").cast(DoubleType) + lit(0.5)) /
            (col("nt").cast(DoubleType) + lit(512.0))) /
            ((col("cr").cast(DoubleType) + lit(0.5)) /
              (col("nr").cast(DoubleType) + lit(512.0)))), 6)
          .cast(DecimalType(18, 6)).as("r"))
      val hw = hb.join(broadcast(ratio), Seq("b"))
        .groupBy(col("h"))
        .agg(asLong(sum(col("cnt"))).as("n_feats"),
          round(sum(col("cnt") * col("r")).cast(DoubleType), 4).as("weight"))
      memb.join(hw, "h")
        .select(col("doc_id"), col("source"), col("n_feats"), col("weight"))
        .orderBy(col("weight").desc, col("doc_id").asc)
        .limit(20)
    },
    Some(s"""
      WITH doc AS (
        SELECT doc_id, source,
               string_split(regexp_replace(trim(lower(text)),
                 '\\s+',' ','g'),' ') AS l
        FROM documents),
      pos AS (SELECT doc_id, source, l,
                     unnest(range(1, len(l) + 1)) AS i FROM doc),
      feats AS (
        SELECT doc_id, source,
               ('0x'||substr(md5(ng),1,8))::BIGINT % 1024 AS b
        FROM (SELECT doc_id, source, l[i] AS ng FROM pos
              UNION ALL
              SELECT doc_id, source, l[i-1] || ' ' || l[i] FROM pos
              WHERE i > 1)),
      docb AS (SELECT doc_id, source, b, COUNT(*) AS cnt
               FROM feats GROUP BY 1, 2, 3),
      stats AS (
        SELECT b,
               SUM(CASE WHEN source IN ($refTierSql) THEN cnt
                        ELSE 0 END) AS ct,
               SUM(cnt) AS cr
        FROM docb GROUP BY 1),
      tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM stats),
      ratio AS (
        SELECT b, CAST(round(ln(
                 ((CAST(ct AS DOUBLE) + 0.5) / (CAST(nt AS DOUBLE) + 512.0))
               / ((CAST(cr AS DOUBLE) + 0.5) / (CAST(nr AS DOUBLE) + 512.0))
               ), 6) AS DECIMAL(18,6)) AS r
        FROM stats CROSS JOIN tot)
      SELECT doc_id, source, CAST(SUM(cnt) AS BIGINT) AS n_feats,
             round(CAST(SUM(cnt * r) AS DOUBLE), 4) AS weight
      FROM docb JOIN ratio USING (b)
      GROUP BY 1, 2
      ORDER BY weight DESC, doc_id ASC LIMIT 20
    """))

  val registry: Seq[Q] = Seq(q252, q253)
}
