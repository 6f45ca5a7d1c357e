package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.functions.TextOps

/** Deduplication + text-analysis suite over the documents table — the
  * large-scale training-data-pipeline operators (exact dedup,
  * MinHash+LSH near-dup, SimHash, n-gram Jaccard, language-ID, quality
  * scoring, token counting, fingerprinting).
  *
  * The dedup queries run over a corpus with planted duplicates (exact
  * copies of doc_id<20, near-copies — last word dropped — of
  * doc_id<10) built identically on both engines, so detection is
  * demonstrated on known positives instead of vacuously passing on an
  * all-unique corpus.
  *
  * Scale design: every step is a shuffle on a hash/shingle key or an
  * explode-join — no driver-side collection anywhere. At 100 TB the
  * shingle explode is the dominant cost; the LSH banding keeps the
  * candidate-pair join bounded (pairs share a band bucket) instead of
  * the O(n²) all-pairs comparison.
  */
object DedupQueries {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(Tables.tuned(s), dir, n)

  /** documents ∪ exact copies (doc_id<20, +200000) ∪ near copies
    * (doc_id<10, +100000, last word dropped). */
  /** Per-shingle posting-list cap for the bounded-candidate near-dup
    * verifiers (q50 Jaccard, q112 containment): each shingle
    * contributes at most this many postings (the lowest doc_ids,
    * deterministic) to candidate generation, so one boilerplate
    * shingle shared by m documents emits at most cap^2 candidate rows
    * instead of m^2 — the classic skew blow-up on real corpora.
    * Unlike dropping hot shingles outright, sampling keeps heavily
    * replicated clusters discoverable: the cap lowest doc_ids of such
    * a cluster still pair up (and q45/q46/q51 cover the full cluster
    * membership). */
  private val MaxShingleDf = 32

  private[graft] def corpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val exact = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
    val w = TextOps.words(col("text"))
    val near = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 100000).as("doc_id"),
        array_join(slice(w, lit(1), size(w) - 1), " ").as("text"))
    base.unionByName(exact).unionByName(near)
  }

  /** The same corpus as a DuckDB CTE. */
  private[operators] val corpusSql: String = {
    val w = """string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ')"""
    s"""corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id < 20
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             array_to_string(($w)[1:len($w)-1], ' ') AS text
      FROM documents WHERE doc_id < 10)"""
  }

  /** Distinct 5-word shingle sets per doc, as a DuckDB CTE chain.
    * (5-grams over this small synthetic vocabulary are ~100x more
    * distinctive than 3-grams, keeping the shingle-join candidate set
    * proportional to true near-dups instead of vocabulary collisions.) */
  private[operators] val shingleSql: String =
    s"""$corpusSql,
    tok AS (
      SELECT doc_id,
             string_split(regexp_replace(trim(lower(text)),'\\s+',' ','g'),' ') AS w
      FROM corpus),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i+1:i+5],' ') FOR i IN range(len(w)-4)]) AS sh
      FROM tok)"""

  // ---------------------------------------------------------------------

  /** Exact deduplication: hash-groupBy on md5 of normalized text; dup
    * groups report the kept (min) doc id. Finds exactly the 20 planted
    * exact copies. */
  private val q45 = Q(
    "q45_dedup_exact",
    (s, dir) =>
      corpus(t(s, dir, "documents"))
        .withColumn("h", md5(TextOps.norm(col("text"))))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1),
    Some(s"""
      WITH $corpusSql
      SELECT md5(regexp_replace(trim(lower(text)),'\\s+',' ','g')) AS h,
             MIN(doc_id) AS keeper, COUNT(*) AS cnt
      FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
    """))

  /** Content fingerprint (order-independent): md5 of sorted distinct
    * vocabulary per document. */
  private val q46 = Q(
    "q46_fingerprint",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
    Some("""
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' '))), ' ')) AS fp
      FROM documents
    """))

  /** Token counting: whitespace tokens and a BPE-ish regex tokenizer
    * (letter runs | digit runs | single punctuation). Null text must
    * yield NULL counts on both engines: Spark's legacy `size(NULL)`
    * is -1 where DuckDB's `len(NULL)` is NULL (caught by the
    * tools/nasty_check.py adversarial differential), so the
    * whitespace count is null-guarded explicitly — the other three
    * columns already propagate NULL through `length`/`regexp_count`. */
  private val q47 = Q(
    "q47_token_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("t", TextOps.norm(col("text")))
      val nWs = when(col("t").isNotNull, size(split(col("t"), " ")))
      d.select(
        col("doc_id"),
        nWs.cast(LongType).as("n_ws_tokens"),
        regexp_count(col("t"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
          .cast(LongType).as("n_re_tokens"),
        (length(col("t")) - (nWs - lit(1))).cast(LongType).as("n_token_chars"),
        ((length(col("t")) - (nWs - lit(1))).cast(DoubleType) / nWs)
          .as("avg_token_len"))
    },
    Some("""
      SELECT doc_id,
             len(string_split(t,' ')) AS n_ws_tokens,
             len(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens,
             length(t) - (len(string_split(t,' ')) - 1) AS n_token_chars,
             CAST(length(t) - (len(string_split(t,' ')) - 1) AS DOUBLE) / len(string_split(t,' ')) AS avg_token_len
      FROM (SELECT doc_id, regexp_replace(trim(lower(text)),'\s+',' ','g') AS t
            FROM documents)
    """))

  /** Quality scoring: type-token ratio, stopword ratio, length prior —
    * the standard pretraining-corpus quality heuristics. Every size()
    * over the word array is null-guarded (the q47 discipline): a NULL
    * text must yield NULL counts/ratios on both engines, not Spark's
    * legacy size(NULL) = -1 (which made ttr = -1/-1 = 1.0 — caught by
    * the round-12 mechanical nasty sweep). */
  private val q48 = Q(
    "q48_quality_score",
    (s, dir) => {
      val stop = Seq("the", "a", "of", "and", "to", "in")
      val d = t(s, dir, "documents")
        .withColumn("w", TextOps.words(col("text")))
      val ok = col("w").isNotNull
      val nW = when(ok, size(col("w")))
      val ttr = when(ok,
        size(array_distinct(col("w"))).cast(DoubleType) / nW)
      val stopRatio = when(ok,
        TextOps.vocabHits(col("w"), stop).cast(DoubleType) / nW)
      val lenPrior = least(lit(1.0), nW.cast(DoubleType) / 100.0)
      d.select(
        col("doc_id"),
        nW.cast(LongType).as("n_words"),
        ttr.as("ttr"),
        stopRatio.as("stop_ratio"),
        round(ttr * 0.4 + (lit(1.0) - stopRatio) * 0.3 + lenPrior * 0.3, 6)
          .as("quality_score"))
    },
    Some("""
      SELECT doc_id,
             len(w) AS n_words,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
             CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) / len(w) AS stop_ratio,
             round((CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.4
                   + (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) / len(w)) * 0.3
                   + LEAST(1.0, CAST(len(w) AS DOUBLE) / 100.0) * 0.3, 6) AS quality_score
      FROM (SELECT doc_id,
              string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ') AS w
            FROM documents)
    """))

  /** Language identification: marker-vocabulary scoring with a
    * deterministic arg-max (confusion matrix against the labeled lang
    * column). */
  private val q49 = Q(
    "q49_langid",
    (s, dir) => {
      val markers = Seq(
        "en" -> Seq("the", "a", "fast"),
        "fr" -> Seq("table", "column", "merge"),
        "es" -> Seq("data", "sort", "row"),
        "de" -> Seq("group", "join", "hash"))
      val d = t(s, dir, "documents")
        .withColumn("w", TextOps.words(col("text")))
      val scored = markers.foldLeft(d) { case (df, (l, vocab)) =>
        df.withColumn(s"s_$l", TextOps.vocabHits(col("w"), vocab))
      }
      scored
        .withColumn("predicted",
          when(col("s_en") >= col("s_fr") && col("s_en") >= col("s_es") &&
            col("s_en") >= col("s_de") && col("s_en") > 0, "en")
            .when(col("s_fr") >= col("s_es") && col("s_fr") >= col("s_de") &&
              col("s_fr") > 0, "fr")
            .when(col("s_es") >= col("s_de") && col("s_es") > 0, "es")
            .when(col("s_de") > 0, "de")
            .otherwise("unknown"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
    },
    Some("""
      WITH scored AS (
        SELECT lang,
               len(list_filter(w, x -> x IN ('the','a','fast'))) AS s_en,
               len(list_filter(w, x -> x IN ('table','column','merge'))) AS s_fr,
               len(list_filter(w, x -> x IN ('data','sort','row'))) AS s_es,
               len(list_filter(w, x -> x IN ('group','join','hash'))) AS s_de
        FROM (SELECT lang,
                string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ') AS w
              FROM documents))
      SELECT lang,
             CASE WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
                  WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
                  WHEN s_es >= s_de AND s_es > 0 THEN 'es'
                  WHEN s_de > 0 THEN 'de'
                  ELSE 'unknown' END AS predicted,
             COUNT(*) AS n
      FROM scored GROUP BY 1, 2
    """))

  /** Shared candidate machinery for the bounded-candidate near-dup
    * verifiers (q50 Jaccard, q112 containment): build the 5-shingle-set
    * index (materialized once — "build the index, then join it"),
    * generate candidate pairs from a self-join of per-shingle posting
    * lists capped at [[MaxShingleDf]] entries (lowest doc_ids —
    * deterministic, no rand()), and join candidates back to both
    * sides' FULL shingle sets. Returns (d1, d2, inter, n1, n2); only
    * the scoring metric differs between the two queries.
    *
    * Recall contract (NOT all-pairs-exact): a pair is found iff both
    * docs are among the [[MaxShingleDf]] lowest doc_ids of some shared
    * shingle; scores themselves are exact (computed on the full sets,
    * q51's verify pattern). Pairs of a >cap-replicated cluster beyond
    * its cap lowest members are covered by q45/q46/q51, not here. */
  /** The [[MaxShingleDf]]-lowest posting cap as a mergeable TopK
    * aggregate instead of a per-shingle row_number window. Output is
    * IDENTICAL (the MaxShingleDf lowest doc_ids of every shingle —
    * deterministic, doc_ids are unique within a shingle), but the
    * shape is the one the plan gates demand of every other per-key
    * bound in the repo: partial heaps cap what reaches the shuffle at
    * MaxShingleDf rows per partition per shingle, where the window
    * formulation shuffles EVERY posting of a hot shingle to one
    * partition before ranking — a 10⁸-occurrence boilerplate shingle
    * pins an unsplittable partition at corpus scale. The SQL oracles
    * keep the row_number formulation (semantically identical; DuckDB
    * has no such skew hazard at oracle scale). */
  private[graft] def cappedPostings(ex: DataFrame): DataFrame = {
    val s = ex.sparkSession
    import s.implicits._
    ex.select(col("s"), col("doc_id")).as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(r => (-r._2, r._2))
      .agg(new graft.functions.TopK(MaxShingleDf).toColumn.name("top"))
      .toDF("s", "top")
      .select(col("s"), explode(col("top")).as("p"))
      .select(col("p").getField("_2").as("doc_id"), col("s"))
  }

  /** CONTENT-GROUP internals of the capped-posting pair machinery
    * (round-18: the q241/q276/q251 reshape applied to the q50/q99
    * family). Shingles and signatures depend only on normalized text,
    * so the shingle table is built once per DISTINCT content and
    * per-doc frames derive through a (doc_id, h) membership join.
    * The posting cap stays EXACT at doc grain via cap-first algebra:
    * a doc among a shingle's [[MaxShingleDf]] lowest ids is
    * necessarily among its own content's MaxShingleDf lowest members
    * (any smaller member also carries the shingle), so capping each
    * content's member list first, fanning out, and re-capping per
    * shingle reproduces the old doc-grain TopK byte-for-byte while
    * the explode volume drops from corpus-docs×shingles to
    * contents×shingles(×cap). */
  private case class PrunedParts(cand: DataFrame, memb: DataFrame,
    grp: DataFrame, contentGrain: Boolean)

  private def prunedParts(docs: DataFrame): PrunedParts = {
    val s0 = docs.sparkSession
    import s0.implicits._
    // round 22 (guide §2.5 input skew applied to the FIRST text pass):
    // widen the raw (doc_id, text) scan BEFORE norm/md5 — the old
    // widen sat above the norm projection in the plan, so the regex
    // normalize of the whole corpus still ran on the 1–3 scan
    // partitions of the single-row-group fixture files (measured
    // 0.3–0.9 s serial per query at sf0.1); at scale the scan already
    // carries ≥ width partitions and widenCk is a no-op
    val base = widenCk(corpus(docs), Seq(col("doc_id")))
      .withColumn("nt", TextOps.norm(col("text")))
      .filter(col("nt").isNotNull)
      .select(col("doc_id"), md5(col("nt")).as("h"), col("nt"))
    // Adaptive grain (round-19 verdict #2, extending the
    // decontamShingleParts census to this family): at ≥1.5×
    // replication the group key is the content hash (shingle +
    // verify work bounded by distinct contents); below it the doc id
    // IS the group key — no content-grouping shuffle on a corpus
    // where it dedupes nothing (the round-18 sf0.1 toll, q281 +0.46s
    // in the round-19 close). Both grains are output-identical: the
    // cap-first algebra keeps DOC-grain posting-cap semantics
    // exactly (SCALE.md round-18 proof), candidates and verdicts are
    // defined at doc grain, and h never reaches an output column.
    // round 22 (verdict #2): the census rides the membership
    // checkpoint's own job via observe() — one corpus pass and one
    // job where there were two jobs (checkpoint + census aggregate).
    val cObs = org.apache.spark.sql.Observation()
    val membH = base.select(col("doc_id"), col("h"))
      .observe(cObs, censusMetrics.head, censusMetrics.tail: _*)
      .localCheckpoint()
    val contentGrain = censusDecision(
      cObs.get("graft_census_n").asInstanceOf[Long],
      cObs.get("graft_census_g").asInstanceOf[Long])
    val (memb, grp) = if (contentGrain) {
      // shuffle on h FIRST so no map-side partial buffers fat text
      // (the q276/q284 discipline). Width pinned (round 21): the plain
      // repartition(col) is AQE-coalescible, and the shingle projection
      // downstream of the aggregate then ran on 1–3 partitions; the
      // pinned width is the session's own shuffle width — identical at
      // scale, parallel at small scale.
      val p = base.sparkSession.sessionState.conf.numShufflePartitions
      val g = base.select(col("h"), col("nt"))
        .repartition(p, col("h"))
        .groupBy(col("h")).agg(min(col("nt")).as("nt"))
        .withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
        .select(col("h"), col("sh"), size(col("sh")).as("nsh"))
        .localCheckpoint()
      (membH, g)
    } else {
      // doc grain (round 22, ADVICE #4): grp carries the LONG doc_id
      // alongside the string group key, so every downstream doc-grain
      // join stays numeric instead of casting through strings. The
      // input is already wide (the pre-norm widen above), so the
      // per-doc shingle projection runs at full width with no second
      // exchange.
      val g = base
        .withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
        .select(col("doc_id"),
          col("doc_id").cast(StringType).as("h"), col("sh"),
          size(col("sh")).as("nsh"))
        .localCheckpoint()
      (membH.select(col("doc_id"),
        col("doc_id").cast(StringType).as("h")), g)
    }
    // cap each shingle's posting list at the MaxShingleDf lowest
    // doc_ids (cap-first through the content grain — see
    // cappedPostingsGrouped): bounded candidates (cap^2 per shingle)
    // without erasing replicated clusters the way dropping the whole
    // shingle would. The explicit repartition keeps the capped index
    // at full parallelism: the TopK aggregate's output is small
    // enough that AQE coalesces it to a handful of partitions, and
    // everything q99 checkpoints downstream of the pair fan-out then
    // lands in a few multi-GB cache blocks (measured: heap OOM at
    // the ×100 fixture in BlockManager.doPut; a partition must fit
    // in a task's memory — same discipline as the bench's
    // maxPartitionBytes note)
    // round 22: on the DOC-grain branch every content group is one doc
    // (h == CAST(doc_id AS STRING) by construction), so the grouped
    // cap-first machinery — the per-content TopK of member ids, the
    // explode-join against it, and the TopKLists flatten — is an
    // identity detour costing two typed-aggregate exchanges and a join
    // per query; the plain per-shingle TopK over grp's own doc_id is
    // byte-identical there (cap-first over singleton groups IS the
    // doc-grain TopK). Content branch unchanged.
    val exKept = ShufflePlan.pinnedByKey(
      if (contentGrain) cappedPostingsGrouped(memb, grp)
      else cappedPostings(
        grp.select(explode(col("sh")).as("s"), col("doc_id"))),
      col("s"))
      .localCheckpoint()
    val cand = exKept.alias("a")
      .join(exKept.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    PrunedParts(cand, memb, grp, contentGrain)
  }

  private def prunedPairStats(docs: DataFrame): DataFrame = {
    val p = prunedParts(docs)
    // DOC grain (round 21): h == CAST(doc_id AS STRING) by
    // construction, so the content-pair indirection below — two
    // membership equi-joins, a DISTINCT over content pairs, and the
    // fan-back join — is an identity detour costing 4 exchanges per
    // query; verify straight at doc-pair grain instead (cast
    // round-trips exactly for longs). Rows identical: each candidate
    // pair intersects its own two shingle sets either way.
    if (!p.contentGrain) {
      // round 22 (ADVICE #4): grp's doc branch carries the long
      // doc_id, so the verify joins run on numeric keys instead of
      // casting d1/d2 through strings
      return p.cand
        .join(p.grp.select(col("doc_id").as("d1"), col("sh").as("sh1"),
          col("nsh").as("n1")), "d1")
        .join(p.grp.select(col("doc_id").as("d2"), col("sh").as("sh2"),
          col("nsh").as("n2")), "d2")
        .select(col("d1"), col("d2"),
          size(array_intersect(col("sh1"), col("sh2"))).as("inter"),
          col("n1"), col("n2"))
    }
    // verify at CONTENT-pair grain: inter/n1/n2 depend only on the
    // two contents, so each distinct content pair intersects once and
    // the result fans back to the candidate doc pairs — on a
    // replicated corpus this removes ~replication² redundant
    // array_intersects
    val candH = p.cand
      .join(p.memb.select(col("doc_id").as("d1"), col("h").as("h1")),
        "d1")
      .join(p.memb.select(col("doc_id").as("d2"), col("h").as("h2")),
        "d2")
    val cstats = candH.select(col("h1"), col("h2")).distinct()
      .join(p.grp.select(col("h").as("h1"), col("sh").as("sh1"),
        col("nsh").as("n1")), "h1")
      .join(p.grp.select(col("h").as("h2"), col("sh").as("sh2"),
        col("nsh").as("n2")), "h2")
      .select(col("h1"), col("h2"),
        size(array_intersect(col("sh1"), col("sh2"))).as("inter"),
        col("n1"), col("n2"))
    candH.join(cstats, Seq("h1", "h2"))
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"))
  }

  /** The same machinery as DuckDB CTEs, ending in
    * v(d1, d2, inter, n1, n2). */
  private val prunedPairSql: String = s"""$shingleSql,
      ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      exk AS (SELECT doc_id, s FROM (
                SELECT doc_id, s,
                       row_number() OVER (PARTITION BY s ORDER BY doc_id) AS rk
                FROM ex)
              WHERE rk <= $MaxShingleDf),
      cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
               FROM exk a JOIN exk b
               ON a.s = b.s AND a.doc_id < b.doc_id),
      v AS (SELECT d1, d2,
                   len(list_intersect(s1.sh, s2.sh)) AS inter,
                   len(s1.sh) AS n1, len(s2.sh) AS n2
            FROM cand
            JOIN sh s1 ON s1.doc_id = d1
            JOIN sh s2 ON s2.doc_id = d2)"""

  private val q50 = Q(
    "q50_ngram_jaccard",
    (s, dir) =>
      prunedPairStats(t(s, dir, "documents"))
        .withColumn("jaccard",
          col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter")))
        .filter(col("jaccard") >= 0.3)
        .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jac")),
    Some(s"""
      WITH $prunedPairSql
      SELECT d1, d2,
             round(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 6) AS jac
      FROM v WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.3
    """))

  /** The q51/q241 shared banding kernel: 8 MinHash components over a
    * `(idCol, sh)` frame, 4 bands of 2, exploded to narrow
    * (idCol, band_idx, bh) rows. Factored exactly like
    * [[simhashSigPairs]] (the q84/q235 discipline): the exact query
    * and its bounded telemetry share the banding CODE, so a scheme
    * retune can never silently diverge between them. All 8 signature
    * components come from one native pass over the shingles
    * (graft.plans.MinHashSig) instead of 8 interpreted HOF columns. */
  private[graft] def minhashBandTable(
      withSh: DataFrame, idCols: String*): DataFrame = {
    val withMin = withSh.withColumn("ms",
      graft.plans.MinHashSig.minhashSig(col("sh"), 8))
    val withBands = withMin.withColumn("bands",
      array((0 until 4).map(j =>
        md5(concat(element_at(col("ms"), 2 * j + 1),
          element_at(col("ms"), 2 * j + 2)))): _*))
    withBands.select(idCols.map(col) :+
      posexplode(col("bands")).as(Seq("band_idx", "bh")): _*)
  }

  /** Parallelism floor for a CPU-dense projection over a MATERIALIZED
    * input (round-21, guide §2.5 "input skew" applied to CPU): the
    * fixture files are single-row-group (a scan cannot split them) and
    * AQE coalesces small shuffles by BYTES, so a group/doc table of a
    * few thousand rows lands in 1–3 partitions — and the
    * 8×md5-per-shingle MinHash pass then runs serially on one core
    * while the other 31 idle (measured: 2.6–3.0 s single-task stages
    * carrying q241/q259/q266/q51 at sf0.1). Repartition BY KEY up to
    * the session's shuffle width ONLY when the input has fewer
    * partitions: at scale the input already carries ≥ width partitions
    * and this is a no-op, so nothing here is tuned to local mode — the
    * width is the deployment's own spark.sql.shuffle.partitions.
    *
    * CALLER CONTRACT: `df` must be exchange-free over a materialized
    * source (narrow lineage over a localCheckpoint / file scan) —
    * `.rdd` on a frame with pending exchanges would materialize AQE
    * query stages, i.e. run jobs at plan time. ENFORCED (round 22,
    * verdict #5): the optimized logical plan is checked for
    * shuffle-inducing operators (join / aggregate / window / global
    * sort / repartition — physical Exchanges are only inserted later,
    * by EnsureRequirements, so `sparkPlan` cannot be inspected for
    * them) before the `.rdd` probe, so a future caller passing a
    * pending-shuffle frame fails loudly at plan-build time instead of
    * silently running jobs mid-planning. The check itself only plans,
    * it never executes. */
  private[graft] def widenCk(
      df: DataFrame,
      key: Seq[org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{logical => lg}
    val pendingWide = df.queryExecution.optimizedPlan.exists {
      case _: lg.Join                 => true
      case _: lg.Aggregate            => true
      case _: lg.Window               => true
      case s: lg.Sort                 => s.global
      case _: lg.RepartitionOperation => true
      case _                          => false
    }
    require(!pendingWide,
      "widenCk caller contract violated: input frame has a pending " +
        "shuffle (join/aggregate/window/sort/repartition) — probing " +
        ".rdd here would materialize AQE query stages at plan time. " +
        "Checkpoint the input first.")
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < p) df.repartition(p, key: _*) else df
  }

  /** CHECKPOINTED (id…, ms, bands) MinHash signature table — the
    * round-21 fix for the band self-join's hidden quadratic-ish cost.
    * The lazy [[minhashBandTable]] under a self-join planned the
    * 8×md5-per-shingle signature tree TWICE (once per join side), and
    * InferFiltersFromGenerate's `size(bands) > 0` + the join's
    * `isnotnull(bh)` pushed below the explode re-evaluated
    * `graft_minhash(sh, 8)` up to 8× per row inside a Filter (the
    * round-20 q251 lesson, latent in every band self-join): measured
    * 2×2.6–3.0 s single-task stages per query at sf0.1. Materializing
    * (ms, bands) once — on [[widenCk]]-widened partitioning — makes
    * every downstream reference (self-join sides, verify joins,
    * estimator reads) a cheap scan of the checkpoint, and the
    * checkpoint is a hard pushdown barrier, so no inferred filter can
    * drag the signature tree anywhere. Output columns and rows are
    * bit-identical to the lazy form (same expressions, same NULL
    * propagation for empty shingle sets). */
  private[graft] def minhashSigTable(
      withSh: DataFrame, idCols: String*): DataFrame = {
    val in = widenCk(withSh, idCols.map(col))
    val withMin = in.withColumn("ms",
      graft.plans.MinHashSig.minhashSig(col("sh"), 8))
    val withBands = withMin.withColumn("bands",
      array((0 until 4).map(j =>
        md5(concat(element_at(col("ms"), 2 * j + 1),
          element_at(col("ms"), 2 * j + 2)))): _*))
    withBands.select(idCols.map(col) :+ col("ms") :+ col("bands"): _*)
      .localCheckpoint()
  }

  /** [[minhashBandTable]]'s exploded (id…, band_idx, bh) rows, served
    * off the [[minhashSigTable]] checkpoint — use this form wherever
    * the band table is self-joined or otherwise read more than once. */
  private[graft] def minhashBandTableCk(
      withSh: DataFrame, idCols: String*): DataFrame =
    minhashSigTable(withSh, idCols: _*)
      .select(idCols.map(col) :+
        posexplode(col("bands")).as(Seq("band_idx", "bh")): _*)

  /** MinHash + LSH near-dup: 8 salted-md5 minhash components, 4 bands
    * of 2, candidate pairs from band-bucket equality, verified with
    * exact Jaccard ≥ 0.5 on the shingle sets. The banding join is the
    * 100 TB path — candidates are generated per-bucket, never all-pairs.
    */
  private val q51 = Q(
    "q51_minhash_lsh",
    (s, dir) => {
      // Round-14 content-group reshape (the q241/q259/q266 kernel
      // shape, applied to the EXACT query itself): banding, candidate
      // generation and the Jaccard verify run once per CONTENT pair —
      // jac depends only on the normalized texts — and the doc-pair
      // OUTPUT (unchanged: every near-dup pair, the q241/q259 specs
      // pin the pair mass) is re-expanded through two membership
      // equi-joins plus a within-group self-join for identical texts
      // (jac exactly 1.0 there). On the replicated ×100 fixture the
      // doc-pairwise form burned 137s running 27.3M array_intersects
      // whose answers were copies of each other; the reshape verifies
      // ~distinct-content² candidates and leaves the 27.3M rows to
      // cheap hash joins.
      // Adaptive grain (round-19 verdict #2): the reshape pays a
      // corpus-width checkpoint + a content groupBy that dedupe
      // nothing on an unreplicated corpus — there the census picks
      // the plain doc-grain banding (the oracle's own formulation:
      // bands off per-doc shingles, identical docs collide in every
      // band and verify at jac exactly 1.0, which is precisely what
      // intraPairs reproduces by algebra on the content branch).
      // ONE normalize pass feeds the census AND both branches (the
      // q90 discipline — the census must not cost an extra corpus
      // scan on either branch)
      val base = corpus(t(s, dir, "documents"))
        .withColumn("nt", TextOps.norm(col("text")))
        .filter(col("nt").isNotNull)
        .select(col("doc_id"), md5(col("nt")).as("g"), col("nt"))
        .localCheckpoint()
      if (DedupQueries.contentGrainByCensus(
        base.select(col("doc_id"), col("g").as("h")))) {
        val members = base.select(col("doc_id"), col("g"))
        val grp = base.groupBy(col("g"))
          .agg(count(lit(1)).as("nd"), min(col("nt")).as("nt"))
          .withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
          .withColumn("nsh", size(col("sh")).cast(LongType))
          .drop("nt")
          .localCheckpoint()
        val bands = minhashBandTableCk(grp.select(col("g"), col("sh")), "g")
        val cand = bands.alias("a")
          .join(bands.alias("b"),
            col("a.band_idx") === col("b.band_idx") &&
              col("a.bh") === col("b.bh") && col("a.g") < col("b.g"))
          .select(col("a.g").as("g1"), col("b.g").as("g2"))
          .distinct()
        val crossPairs = cand
          .join(grp.select(col("g").as("g1"), col("sh").as("sh1"),
            col("nsh").as("m1")), "g1")
          .join(grp.select(col("g").as("g2"), col("sh").as("sh2"),
            col("nsh").as("m2")), "g2")
          .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
          .withColumn("jaccard",
            col("inter").cast(DoubleType) /
              (col("m1") + col("m2") - col("inter")))
          .filter(col("jaccard") >= 0.5)
          .select(col("g1"), col("g2"), round(col("jaccard"), 6).as("jac"))
          .join(members.select(col("g").as("g1"), col("doc_id").as("x")), "g1")
          .join(members.select(col("g").as("g2"), col("doc_id").as("y")), "g2")
          .select(least(col("x"), col("y")).as("d1"),
            greatest(col("x"), col("y")).as("d2"), col("jac"))
        val intraPairs = members
          .join(grp.filter(col("nd") > 1 && col("nsh") > 0)
            .select(col("g")), "g")
          .alias("x")
          .join(members.alias("y"),
            col("x.g") === col("y.g") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
            lit(1.0).as("jac"))
        crossPairs.unionByName(intraPairs)
      } else {
        val shTab = base
          .withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
          .select(col("doc_id"), col("sh"),
            size(col("sh")).cast(LongType).as("nsh"))
          .localCheckpoint()
        val bands = minhashBandTableCk(
          shTab.select(col("doc_id"), col("sh")), "doc_id")
        val cand = bands.alias("a")
          .join(bands.alias("b"),
            col("a.band_idx") === col("b.band_idx") &&
              col("a.bh") === col("b.bh") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .distinct()
        cand
          .join(shTab.select(col("doc_id").as("d1"), col("sh").as("sh1"),
            col("nsh").as("m1")), "d1")
          .join(shTab.select(col("doc_id").as("d2"), col("sh").as("sh2"),
            col("nsh").as("m2")), "d2")
          .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
          .withColumn("jaccard",
            col("inter").cast(DoubleType) /
              (col("m1") + col("m2") - col("inter")))
          .filter(col("jaccard") >= 0.5)
          .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jac"))
      }
    },
    Some {
      val mins = (0 until 8).map(i =>
        s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
      val bandSelects = (0 until 4).map(j =>
        s"SELECT doc_id, $j AS band_idx, md5(m${2 * j}||m${2 * j + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      s"""
      WITH $shingleSql,
      mh AS (SELECT doc_id, sh, $mins FROM sh),
      bands AS ($bandSelects),
      cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
               FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.bh = b.bh
                  AND a.doc_id < b.doc_id),
      v AS (SELECT d1, d2,
                   len(list_intersect(s1.sh, s2.sh)) AS inter,
                   len(s1.sh) AS n1, len(s2.sh) AS n2
            FROM cand
            JOIN sh s1 ON s1.doc_id = d1
            JOIN sh s2 ON s2.doc_id = d2)
      SELECT d1, d2,
             round(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 6) AS jac
      FROM v WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.5
      """
    })

  /** One-pass codegen SimHash table: explode the distinct words into
    * narrow (doc_id, word-hash) rows, then ONE hash aggregate with
    * `bits` codegen'd conditional sums (map-side combinable) plus the
    * distinct-word count, then assemble the signature. Bit b of the
    * signature is set iff a majority of the doc's distinct-word hashes
    * have bit b set — identical math to the per-bit
    * `filter(hw, ...)` HOF formulation this replaces, which ran
    * INTERPRETED at bits × words lambda evaluations per document:
    * fine at bench SF, ~6×10⁹ evaluations for q84's 60-bit signature
    * at the ×100 fixture (did not finish in 20 minutes; q225's
    * hot-per-token-work-must-stay-in-codegen lesson, rediscovered).
    * The oracles keep the HOF rendering — DuckDB list comprehensions
    * are vectorized and the oracle runs at sf0.01.
    *
    * Null-text docs: `explode` of a null word array drops the row,
    * but the HOF/oracle formulation's `CASE WHEN NULL THEN p ELSE 0`
    * collapses every bit to 0 — so the doc list is left-joined back
    * and a missing signature coalesces to 0, keeping Spark/DuckDB
    * parity for documents with null text. */
  private def simhashTable(
      docs: DataFrame, hexDigits: Int, bits: Int): DataFrame = {
    // CONTENT-GROUP grain (round-18): the signature is a pure
    // function of the RAW text (this family never normalized), so
    // the word explode + per-bit majority vote runs once per
    // DISTINCT text and fans out through a (doc_id, text-hash)
    // membership join. NULL-text docs keep their sh = 0 row via the
    // same left join + coalesce as before (null never equi-joins).
    val base = docs.select(col("doc_id"), md5(col("text")).as("th"))
    val grp = docs.filter(col("text").isNotNull)
      .select(md5(col("text")).as("th"), col("text"))
      .repartition(col("th"))
      .groupBy(col("th")).agg(min(col("text")).as("text"))
    val words = grp
      .select(col("th"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .select(col("th"),
        expr(s"cast(conv(substring(md5(w),1,$hexDigits),16,10) as bigint)")
          .as("h"))
    val aggs = (0 until bits).map(b =>
      sum(expr(s"(h div ${1L << b}) % 2")).as(s"c$b")) :+
      count(lit(1)).as("nw")
    val sigs = words.groupBy(col("th")).agg(aggs.head, aggs.tail: _*)
      .select(col("th"),
        (0 until bits).map(b =>
          when(lit(2L) * col(s"c$b") > col("nw"), lit(1L << b))
            .otherwise(lit(0L)))
          .reduce(_ + _).as("sh"))
    base.join(sigs, Seq("th"), "left")
      .select(col("doc_id"), coalesce(col("sh"), lit(0L)).as("sh"))
  }

  /** SimHash (16-bit, majority vote over distinct-word hashes) — the
    * constant-size near-dup signature. */
  private val q52 = Q(
    "q52_simhash",
    (s, dir) =>
      simhashTable(t(s, dir, "documents"), hexDigits = 8, bits = 16)
        .select(col("doc_id"), col("sh").as("simhash")),
    Some {
      val (hw, nw) = TextOps.wordHashDuckExpr("text")
      s"""WITH hws AS (SELECT doc_id, $hw AS hw, $nw AS nw FROM documents)
          SELECT doc_id,
                 ${TextOps.simhashDuckExprOver("hw", "nw", 16)} AS simhash
          FROM hws"""
    })

  /** Per-group MinHash signatures via the typed mergeable Aggregator
    * (graft.functions.MinHashSignature) — map-side partial signatures
    * merged across partitions; identical md5 math to the SQL oracle. */
  private val q82 = Q(
    "q82_minhash_aggregator",
    (s, dir) => {
      import s.implicits._
      val ds = t(s, dir, "documents")
        .select(col("source"),
          explode(TextOps.shingles(TextOps.words(col("text")), 3)).as("sh"))
        .as[(String, String)]
      ds.groupByKey(_._1)
        .mapValues(_._2)
        .agg(new graft.functions.MinHashSignature(4).toColumn.name("sig"))
        .toDF("source", "sig")
        .select(col("source"),
          element_at(col("sig"), 1).as("m0"),
          element_at(col("sig"), 2).as("m1"),
          element_at(col("sig"), 3).as("m2"),
          element_at(col("sig"), 4).as("m3"))
    },
    Some("""
      WITH tok AS (
        SELECT source,
               string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ') AS w
        FROM documents),
      ex AS (
        SELECT source,
               unnest([array_to_string(w[i+1:i+3],' ') FOR i IN range(len(w)-2)]) AS s
        FROM tok)
      SELECT source,
             MIN(md5('0|'||s)) AS m0, MIN(md5('1|'||s)) AS m1,
             MIN(md5('2|'||s)) AS m2, MIN(md5('3|'||s)) AS m3
      FROM ex GROUP BY 1
    """))

  /** The q84/q235 shared blocking kernel: qualifying signature pairs
    * (hamming ≤ 3) from a DISTINCT-signature frame `sigs(sh)` via the
    * pigeonhole-complete 4 × 15-bit banding — factored so a band
    * retune can never silently diverge between the exact query and
    * its bounded telemetry (the drift lshDecontamParts exists to
    * prevent for q232). */
  private def simhashSigPairs(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("sh"),
      posexplode(array((0 until 4).map(i =>
        expr(s"(sh div ${1L << (15 * i)}) % 32768")): _*))
        .as(Seq("band_i", "band")))
    bands.alias("a").join(bands.alias("b"),
        col("a.band_i") === col("b.band_i") &&
          col("a.band") === col("b.band") &&
          col("a.sh") < col("b.sh"))
      .select(col("a.sh").as("s1"), col("b.sh").as("s2"))
      .distinct()
      .withColumn("dist", expr("bit_count(s1 ^ s2)").cast(LongType))
      .filter(col("dist") <= 3)
  }

  /** SimHash near-dup pairs by hamming distance: 60-bit signatures
    * (q52's 16-bit formula widened — small signatures collide heavily,
    * and the BAND width is what bounds bucket cardinality at scale),
    * pigeonhole-blocked on ALL 4 disjoint 15-bit bands: a pair at
    * distance <= 3 differs in at most 3 bands, so it MUST collide on
    * at least one of the 4 — no qualifying pair can escape the
    * blocking. 15-bit bands give 32,768 buckets per band (8-bit bands'
    * 256 buckets would go quadratic-within-bucket on a billion-doc
    * corpus); 60 bits, not 64, so no engine touches the sign bit.
    * Candidates come from one (band_index, band_value) equi-join over
    * the exploded bands (4n rows, the standard LSH banding shape —
    * never all-pairs), filtered by popcount before the dedup.
    * Integer arithmetic only, so the oracle is exact. */
  private val q84 = Q(
    "q84_simhash_hamming",
    (s, dir) => {
      val sh = simhashTable(t(s, dir, "documents"),
        hexDigits = 15, bits = 60)
        .localCheckpoint()
      // The pair set is purely SIGNATURE-determined: dist <= 3 over a
      // 4-band x 15-bit split implies >= 1 identical band (pigeonhole
      // — 3 differing bits touch at most 3 bands), so banding over
      // DISTINCT signatures finds every qualifying signature pair,
      // and doc pairs are the expansion of signature pairs. Banding
      // at the DOC level instead is a replication bomb: simhash bits
      // correlate across same-language documents, so band values
      // cluster — the x100 fixture put 32% of all docs in ONE
      // (band, value) bucket (measured 15,820 of 50k at x10), and the
      // doc-level self-join wrote 41 GB of shuffle before dying.
      // Distinct signatures are invariant under replication: the same
      // bucket holds ~1.6k SIGNATURES at every scale, so candidate
      // volume stays ~constant while the doc expansion below is
      // output-bound (every expanded row IS a result row).
      val sigs = sh.select(col("sh")).distinct().localCheckpoint()
      val sigPairs = simhashSigPairs(sigs).localCheckpoint()
      // Expansion joins stream over sh's EVEN partitioning with both
      // small sides gated-broadcast: keyed by signature instead, the
      // hot signature's whole doc group lands in one shuffle
      // partition and the expansion runs on one core (measured: a
      // single straggler task carrying the x100 run). Under the gate
      // nothing shuffles and nothing materializes — the count streams
      // through whole-stage codegen; past the gate the fallback is the
      // keyed shuffle, where AQE's skew split applies.
      val spB = GatedBroadcast(sigPairs, sigPairs.count())
      val shN = sh.count()
      val cross = sh.select(col("sh").as("s1"), col("doc_id").as("da"))
        .join(spB, "s1")
        .join(GatedBroadcast(
          sh.select(col("sh").as("s2"), col("doc_id").as("db")), shN), "s2")
        .select(least(col("da"), col("db")).as("d1"),
          greatest(col("da"), col("db")).as("d2"), col("dist"))
      val intra = sh.alias("x").join(GatedBroadcast(sh.alias("y"), shN),
          col("x.sh") === col("y.sh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          lit(0L).as("dist"))
      cross.unionByName(intra)
        .select(col("d1"), col("d2"), col("dist"))
    },
    Some {
      val (hw, nw) = TextOps.wordHashDuckExprWide("text")
      s"""
      WITH hws AS (SELECT doc_id, $hw AS hw, $nw AS nw FROM documents),
      sh AS (
        SELECT doc_id, ${TextOps.simhashDuckExprOver("hw", "nw", 60)} AS sh
        FROM hws),
      bands AS (
        SELECT doc_id, sh, i AS band_i,
               (sh // (1 << (15 * i))) % 32768 AS band
        FROM sh, range(4) t(i)),
      cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
               CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS dist
        FROM bands a JOIN bands b
          ON a.band_i = b.band_i AND a.band = b.band
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3)
      SELECT d1, d2, dist FROM cand
      """
    })

  /** Bounded-output variant of q84 — SimHash near-dup TELEMETRY. q84's
    * answer is inherently quadratic under verbatim replication (every
    * doc pair in an F-fold-replicated cluster is a result row: 271k →
    * 10⁴× at the ×100 fixture, correct but telemetry-hostile). This
    * variant reports at SIGNATURE-pair grain with a documented
    * bounded-recall contract: for each qualifying pair (hamming ≤ 3
    * over the same 60-bit/4-band blocking) it emits the per-signature
    * doc counts, the EXACT total pair mass n1·n2 (so Σ n_pairs over
    * the result equals q84's row count exactly — DupClustersSpec pins
    * the identity), and a ≤5-doc sample per side; intra-signature
    * clusters appear as (s,s,dist=0) rows with n·(n−1)/2 mass.
    * Individual doc pairs beyond the sample are the only information
    * surrendered. Output mass = qualifying signature pairs +
    * duplicated signatures — INVARIANT under replication, safe to
    * collect/alert on at any corpus size.
    *
    * Shape: samples via the mergeable TopK Aggregator (≤5 rows per
    * partition per signature reach the shuffle — the hot signature's
    * 160k-doc group at ×100 never buffers); counts map-side combine;
    * banding runs over distinct signatures exactly as q84. */
  /** q235's sample stage: smallest-5 doc ids per signature, ascending,
    * via the mergeable TopK Aggregator — TopK ranks (v desc, t asc),
    * so feed (v, t) = (-doc_id, doc_id). Package-private so
    * RegistrySmokeSpec can pin the pre-checkpoint physical plan
    * (ObjectHashAggregate, never a sort-based fallback): the query
    * itself localCheckpoints right after this stage, which hides the
    * aggregate from the registry-built plan. */
  private[graft] def sigSamples(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    sh.select(col("sh"), col("doc_id")).as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (-r._2, r._2))
      .agg(new graft.functions.TopK(5).toColumn.name("top"))
      .toDF("sh", "top")
      .select(col("sh"),
        array_join(transform(col("top"),
          p => p.getField("_2").cast(StringType)), ",").as("sample"))
  }

  /** q241's sample stage — [[sigSamples]] with a string content-group
    * key. Package-private for the same plan-gate reason. */
  private[graft] def groupSamples(c: DataFrame): DataFrame = {
    val s = c.sparkSession
    import s.implicits._
    c.select(col("g"), col("doc_id")).as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(r => (-r._2, r._2))
      .agg(new graft.functions.TopK(5).toColumn.name("top"))
      .toDF("g", "top")
      .select(col("g"),
        array_join(transform(col("top"),
          p => p.getField("_2").cast(StringType)), ",").as("sample"))
  }

  private val q235 = Q(
    "q235_simhash_dup_telemetry",
    (s, dir) => {
      import s.implicits._
      val sh = simhashTable(t(s, dir, "documents"),
        hexDigits = 15, bits = 60)
        .localCheckpoint()
      val counts = sh.groupBy(col("sh")).agg(count(lit(1)).as("n"))
      val samples = sigSamples(sh)
      val grp = counts.join(samples, "sh").localCheckpoint()
      val crossp = simhashSigPairs(grp.select(col("sh")))
        .join(grp.select(col("sh").as("s1"), col("n").as("n1"),
          col("sample").as("sample1")), "s1")
        .join(grp.select(col("sh").as("s2"), col("n").as("n2"),
          col("sample").as("sample2")), "s2")
        .select(col("s1"), col("s2"), col("dist"),
          col("n1"), col("n2"),
          (col("n1") * col("n2")).as("n_pairs"),
          col("sample1"), col("sample2"))
      val intra = grp.filter(col("n") > 1)
        .select(col("sh").as("s1"), col("sh").as("s2"),
          lit(0L).as("dist"), col("n").as("n1"), col("n").as("n2"),
          expr("n * (n - 1) div 2").as("n_pairs"),
          col("sample").as("sample1"), col("sample").as("sample2"))
      crossp.unionByName(intra)
    },
    Some {
      val (hw, nw) = TextOps.wordHashDuckExprWide("text")
      s"""
      WITH hws AS (SELECT doc_id, $hw AS hw, $nw AS nw FROM documents),
      sh AS (
        SELECT doc_id, ${TextOps.simhashDuckExprOver("hw", "nw", 60)} AS sh
        FROM hws),
      grp AS (
        SELECT sh, COUNT(*) AS n,
               array_to_string(list_sort(list(doc_id))[1:5], ',') AS sample
        FROM sh GROUP BY 1),
      bands AS (
        SELECT sh, i AS band_i, (sh // (1 << (15 * i))) % 32768 AS band
        FROM grp, range(4) t(i)),
      cand AS (
        SELECT DISTINCT a.sh AS s1, b.sh AS s2
        FROM bands a JOIN bands b
          ON a.band_i = b.band_i AND a.band = b.band AND a.sh < b.sh)
      SELECT s1, s2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS dist,
             g1.n AS n1, g2.n AS n2,
             CAST(g1.n * g2.n AS BIGINT) AS n_pairs,
             g1.sample AS sample1, g2.sample AS sample2
      FROM cand JOIN grp g1 ON g1.sh = s1 JOIN grp g2 ON g2.sh = s2
      WHERE bit_count(xor(s1, s2)) <= 3
      UNION ALL
      SELECT sh AS s1, sh AS s2, CAST(0 AS BIGINT) AS dist,
             n AS n1, n AS n2, CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs,
             sample AS sample1, sample AS sample2
      FROM grp WHERE n > 1
      """
    })

  /** Bounded-output variant of q51 — MinHash/LSH near-dup TELEMETRY,
    * the q235 contract transplanted to the MinHash family. q51's
    * answer is inherently quadratic under verbatim replication (27.3M
    * verified pairs / 186s at the ×100 fixture — every doc pair of an
    * F-fold-replicated cluster is a result row; correct, but
    * telemetry-hostile). This variant reports at CONTENT-GROUP grain:
    * docs are grouped by md5(normalized text) — the q45/q46/q99 exact
    * fingerprint, which fully determines the shingle set, so a doc
    * pair's q51 verdict is a pure function of its two groups. For
    * each verified group pair (same 8-component/4×2 banding via the
    * SHARED [[minhashBandTable]] kernel, same exact-Jaccard ≥ 0.5
    * verify — over distinct groups instead of docs) it emits the
    * exact Jaccard, per-group doc counts, the EXACT doc-pair mass
    * n1·n2 (so Σ n_pairs over the result equals q51's row count
    * exactly — DupClustersSpec pins the identity), and ≤5-doc
    * ascending samples per side; duplicated groups appear as
    * (g,g,jac=1.0) rows with n·(n−1)/2 mass. Individual doc pairs
    * beyond the samples are the only information surrendered; output
    * mass = verified group pairs + duplicated groups — INVARIANT
    * under replication, safe to collect/alert on at any corpus size.
    *
    * Contract notes: null-text docs are excluded up front on both
    * engines (no shingles, no bands, no q51 pair — documented, not
    * incidental); groups of sub-5-word docs have empty shingle sets,
    * whose NULL minhash keeps them out of every band bucket (q232's
    * concat-null discipline) and whose undefined Jaccard keeps their
    * intra-group pairs out of q51 — the `nsh > 0` intra guard
    * mirrors that exactly.
    *
    * Shape: samples via the mergeable TopK Aggregator (≤5 rows per
    * partition per group reach the shuffle); counts map-side combine;
    * shingling runs ONCE per distinct content (vocabulary-scale work,
    * not corpus-scale) on the min(norm-text) representative. */
  private val q241 = Q(
    "q241_minhash_dup_telemetry",
    (s, dir) => {
      import s.implicits._
      val docs = corpus(t(s, dir, "documents"))
      val c = docs
        .withColumn("nt", TextOps.norm(col("text")))
        .filter(col("nt").isNotNull)
        .select(col("doc_id"), md5(col("nt")).as("g"), col("nt"))
        .localCheckpoint()
      val counts = c.groupBy(col("g"))
        .agg(count(lit(1)).as("nd"), min(col("nt")).as("nt"))
      val samples = groupSamples(c) // the q235 sample discipline
      val grp = counts.join(samples, "g")
        .withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
        .withColumn("nsh", size(col("sh")))
        .drop("nt")
        .localCheckpoint()
      val bands = minhashBandTableCk(grp.select(col("g"), col("sh")), "g")
      val cand = bands.alias("a")
        .join(bands.alias("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.bh") === col("b.bh") && col("a.g") < col("b.g"))
        .select(col("a.g").as("g1"), col("b.g").as("g2"))
        .distinct()
      val cross = cand
        .join(grp.select(col("g").as("g1"), col("sh").as("sh1"),
          col("nsh").as("m1"), col("nd").as("n1"),
          col("sample").as("sample1")), "g1")
        .join(grp.select(col("g").as("g2"), col("sh").as("sh2"),
          col("nsh").as("m2"), col("nd").as("n2"),
          col("sample").as("sample2")), "g2")
        .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
        .withColumn("jaccard",
          col("inter").cast(DoubleType) /
            (col("m1") + col("m2") - col("inter")))
        .filter(col("jaccard") >= 0.5)
        .select(col("g1"), col("g2"), round(col("jaccard"), 6).as("jac"),
          col("n1"), col("n2"), (col("n1") * col("n2")).as("n_pairs"),
          col("sample1"), col("sample2"))
      val intra = grp.filter(col("nd") > 1 && col("nsh") > 0)
        .select(col("g").as("g1"), col("g").as("g2"), lit(1.0).as("jac"),
          col("nd").as("n1"), col("nd").as("n2"),
          expr("nd * (nd - 1) div 2").as("n_pairs"),
          col("sample").as("sample1"), col("sample").as("sample2"))
      cross.unionByName(intra)
    },
    Some {
      val nrm = """regexp_replace(trim(lower(text)),'\s+',' ','g')"""
      val mins = (0 until 8).map(i =>
        s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
      val bandSelects = (0 until 4).map(j =>
        s"SELECT g, $j AS band_idx, md5(m${2 * j}||m${2 * j + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      s"""
      WITH $corpusSql,
      nt AS (SELECT doc_id, $nrm AS nt FROM corpus WHERE text IS NOT NULL),
      grp AS (
        SELECT md5(nt) AS g, MIN(nt) AS nt, COUNT(*) AS nd,
               array_to_string(list_sort(list(doc_id))[1:5], ',') AS sample
        FROM nt GROUP BY 1),
      gsh AS (
        SELECT g, nd, sample,
               list_distinct([array_to_string(w[i+1:i+5],' ')
                              FOR i IN range(len(w)-4)]) AS sh
        FROM (SELECT g, nd, sample, string_split(nt, ' ') AS w FROM grp)),
      mh AS (SELECT g, sh, $mins FROM gsh),
      bands AS ($bandSelects),
      cand AS (SELECT DISTINCT a.g AS g1, b.g AS g2
               FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.g < b.g),
      v AS (SELECT g1, g2,
                   len(list_intersect(x.sh, y.sh)) AS inter,
                   len(x.sh) AS m1, len(y.sh) AS m2,
                   x.nd AS n1, y.nd AS n2,
                   x.sample AS sample1, y.sample AS sample2
            FROM cand
            JOIN gsh x ON x.g = g1
            JOIN gsh y ON y.g = g2)
      SELECT g1, g2,
             round(CAST(inter AS DOUBLE) / (m1 + m2 - inter), 6) AS jac,
             n1, n2, CAST(n1 * n2 AS BIGINT) AS n_pairs,
             sample1, sample2
      FROM v WHERE CAST(inter AS DOUBLE) / (m1 + m2 - inter) >= 0.5
      UNION ALL
      SELECT g AS g1, g AS g2, CAST(1.0 AS DOUBLE) AS jac,
             nd AS n1, nd AS n2,
             CAST(nd * (nd - 1) // 2 AS BIGINT) AS n_pairs,
             sample AS sample1, sample AS sample2
      FROM gsh WHERE nd > 1 AND len(sh) > 0
      """
    })

  /** The (doc_id, sh, nsh) 5-gram shingle table of one corpus side,
    * materialized — the shared input of BOTH cross-corpus detector
    * kernels. q232/q245 build their own; q247 builds each side ONCE
    * and feeds the LSH and containment arms from the same checkpoint
    * (round-14 advice #3: the verdict was paying the corpus
    * tokenize+shingle pass and its checkpoint twice). */
  /** ADAPTIVE-GRAIN shingle parts of one corpus side (round-18
    * reshape + round-19 census, VERDICT #5): memb = (doc_id, h),
    * grp = (h, sh, nsh) with h an OPAQUE group key — shingles built
    * once per group, every doc-grain frame derived through the slim
    * membership join. Docs with NULL text carry no row (they never
    * had bands or postings, so kernel outputs are unchanged).
    *
    * The grain is picked per run from a replication census taken off
    * the membership pass the kernel pays anyway (the checkpointed
    * (doc_id, h) frame — count + approx_count_distinct over cached
    * slim rows, no extra corpus scan): at ≥ 1.5× replication the
    * group key is the CONTENT hash (text-derived work bounded by
    * distinct content volume — the ×100 win, −40%+ on this family),
    * below it the group key is the DOC id itself, which skips the
    * corpus-text shuffle the content grouping costs (the round-18
    * sf0.1 toll: q245 paid +24% on an unreplicated fixture for
    * grouping that deduped nothing). BOTH grains produce identical
    * kernel outputs — h never reaches an output column, candidates
    * and verdicts are defined at doc grain, and containment/Jaccard
    * per group pair equals per doc pair — so the census is a pure
    * physical-plan decision the oracles cannot see. The 5%-rsd
    * approximate distinct is safe at a 1.5 cut: real corpora sit
    * either ~1× (curated) or many× (web crawl), never at the
    * boundary. */
  private[graft] def decontamShingleParts(side: DataFrame)
      : ShingleParts = {
    // round 22: widen the raw (doc_id, text) input BEFORE norm/md5 so
    // the regex normalize runs at full width (see prunedParts); no-op
    // once the scan carries ≥ width partitions
    val base = widenCk(side.select(col("doc_id"), col("text")),
        Seq(col("doc_id")))
      .withColumn("nt", TextOps.norm(col("text")))
      .filter(col("nt").isNotNull)
      .select(col("doc_id"), md5(col("nt")).as("h"), col("nt"))
    // round 22 (verdict #2): census rides the checkpoint job via
    // observe() — see prunedParts
    val cObs = org.apache.spark.sql.Observation()
    val memb = base.select(col("doc_id"), col("h"))
      .observe(cObs, censusMetrics.head, censusMetrics.tail: _*)
      .localCheckpoint()
    val contentGrain = censusDecision(
      cObs.get("graft_census_n").asInstanceOf[Long],
      cObs.get("graft_census_g").asInstanceOf[Long])
    // grp's row count rides its checkpoint job too (round 22): the
    // LSH kernel's broadcast gate needs |grp| and used to pay a
    // separate count() job for it per side
    val gObs = org.apache.spark.sql.Observation()
    if (contentGrain) {
      // width pinned (round 21) — see prunedParts: the AQE-coalesced
      // aggregate starved the shingle projection of parallelism
      val p = base.sparkSession.sessionState.conf.numShufflePartitions
      val grp = base.select(col("h"), col("nt"))
        .repartition(p, col("h"))
        .groupBy(col("h")).agg(min(col("nt")).as("nt"))
        .withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
        .select(col("h"), col("sh"), size(col("sh")).as("nsh"))
        .observe(gObs, count(lit(1)).as("n"))
        .localCheckpoint()
      ShingleParts(memb, grp, contentGrain = true,
        nGroups = gObs.get("n").asInstanceOf[Long])
    } else {
      // doc grain: the doc id IS the group key (unique by
      // construction — no grouping shuffle, shingles straight off the
      // pre-widened scan). grp carries the LONG doc_id (round 22,
      // ADVICE #4) so downstream doc-grain joins stay numeric.
      val grp = base
        .withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
        .select(col("doc_id"),
          col("doc_id").cast(StringType).as("h"), col("sh"),
          size(col("sh")).as("nsh"))
        .observe(gObs, count(lit(1)).as("n"))
        .localCheckpoint()
      ShingleParts(memb.select(col("doc_id"),
        col("doc_id").cast(StringType).as("h")), grp,
        contentGrain = false,
        nGroups = gObs.get("n").asInstanceOf[Long])
    }
  }

  /** One corpus side's adaptive-grain shingle parts plus the grain the
    * census picked — the doc-grain branches of the consumers use the
    * flag to skip membership fan-outs that are identity detours there
    * (round 22). On the doc branch grp additionally carries the LONG
    * doc_id next to the string group key. `nGroups` = |grp|, measured
    * for free off grp's checkpoint job (observe) for broadcast gates. */
  private[graft] case class ShingleParts(
    memb: DataFrame, grp: DataFrame, contentGrain: Boolean,
    nGroups: Long)

  /** Replication census over a content-keyed frame (must carry `h` =
    * the content hash; pass the CHECKPOINTED membership frame so the
    * census reads cached slim rows, never the corpus): true → content
    * grain. GRAFT_GRAIN_FORCE ∈ {content, doc} is the A/B escape
    * hatch for grain measurements (SCALE.md round-19 table) and an
    * ops override for corpora whose replication the operator knows
    * better than the census; forceGrainForTest is the spec hook (env
    * vars can't be set in-process). Absent both, ≥1.5× replication
    * picks content grain — the 5%-rsd approximate distinct is safe at
    * that cut (real corpora sit ~1× or many×, never the boundary). */
  private[graft] def contentGrainByCensus(keyed: DataFrame): Boolean = {
    val c = keyed
      .agg(count(lit(1)), approx_count_distinct(col("h"))).head()
    censusDecision(c.getLong(0), c.getLong(1))
  }

  /** The census observables, for riding a checkpoint's own
    * materialization via observe() (round 22, verdict #2): the same
    * (count, approx distinct h) pair [[contentGrainByCensus]]
    * aggregates, collected during the membership checkpoint job
    * instead of a separate census job. */
  private[graft] def censusMetrics: Seq[org.apache.spark.sql.Column] =
    Seq(count(lit(1)).as("graft_census_n"),
      approx_count_distinct(col("h")).as("graft_census_g"))

  private[graft] def censusDecision(
      nDocs: Long, nGroups: Long): Boolean = {
    val contentGrain = forceGrainForTest.orElse(
      sys.env.get("GRAFT_GRAIN_FORCE").map {
        case "content" => true
        case "doc"     => false
        case other => throw new IllegalArgumentException(
          s"GRAFT_GRAIN_FORCE must be 'content' or 'doc', got '$other'")
      })
      .getOrElse(nDocs * 2 >= nGroups * 3)
    lastCensus.set((nDocs, nGroups, contentGrain))
    censusLog.add((nDocs, nGroups, contentGrain))
    contentGrain
  }

  /** Last census decision (nDocs, nDistinctGroups, contentGrain) —
    * observability for the SCALE.md grain table and the spec pin. */
  private[graft] val lastCensus =
    new java.util.concurrent.atomic.AtomicReference[(Long, Long, Boolean)]

  /** Every census decision since the last drain, in decision order —
    * the bench harness drains this per query and emits the decisions
    * into BENCH_*.json (round-19 verdict #5), so a grain FLIP between
    * rounds is visible in the artifact instead of inferred from a
    * timing swing. (No hysteresis on the 1.5× cut: the census is a
    * stateless per-run decision with no prior state to hysterate
    * against — real corpora sit ~1× or many×, and a fixture that
    * flips across rounds is exactly what this field makes visible.) */
  private val censusLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Boolean)]

  private[graft] def drainCensusLog(): Seq[(Long, Long, Boolean)] = {
    val b = Seq.newBuilder[(Long, Long, Boolean)]
    var x = censusLog.poll()
    while (x != null) { b += x; x = censusLog.poll() }
    b.result()
  }

  /** Spec hook: Some(true)=content grain, Some(false)=doc grain,
    * None=census decides (production default). */
  @volatile private[graft] var forceGrainForTest: Option[Boolean] = None

  /** Doc-grain capped shingle postings off content parts — the
    * prunedParts cap-first algebra (a doc among a shingle's
    * MaxShingleDf lowest ids is among its own content's MaxShingleDf
    * lowest members), shared by the containment kernel and the q50
    * family. */
  private[graft] def cappedPostingsGrouped(
      memb: DataFrame, grp: DataFrame): DataFrame = {
    val s0 = memb.sparkSession
    import s0.implicits._
    // per-content MaxShingleDf lowest member ids, ascending
    val hTop = memb.select(col("h"), col("doc_id")).as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(r => (-r._2, r._2))
      .agg(new graft.functions.TopK(MaxShingleDf).toColumn.name("top"))
      .toDF("h", "top")
      .select(col("h"),
        transform(col("top"), t => t.getField("_2")).as("ids"))
    // Stage 1 caps CONTENTS per shingle: the cap's contributors are a
    // subset of the MaxShingleDf contents with the smallest min
    // member id (a content ranked below them has ≥MaxShingleDf docs
    // smaller than its own minimum), so the k-bounded heap runs over
    // one row per (shingle, content) — never the exploded doc fan.
    // Stage 2 takes the exact doc-grain cap natively: flatten the
    // ≤k surviving ascending id lists, sort, slice k.
    // round 21: widen the explode input — the checkpointed group table
    // sits in 1–3 partitions at small scale and the explode + typed
    // partial aggregate then run near-serial (measured 1.4 s of q112's
    // ~4 s); at scale the checkpoint already carries ≥ width partitions
    // and widenCk is a no-op
    val kept = widenCk(grp.select(col("h"), col("sh")), Seq(col("h")))
      .select(col("h"), explode(col("sh")).as("s"))
      .join(hTop, "h")
      .select(col("s"), col("ids")).as[(String, Seq[Long])]
      .groupByKey(_._1)
      .mapValues(r => (-r._2.head, r._2))
      .agg(new graft.functions.TopKLists(MaxShingleDf).toColumn
        .name("top"))
      .toDF("s", "top")
    kept.select(col("s"),
      explode(slice(array_sort(flatten(
        transform(col("top"), t => t.getField("_2")))),
        1, MaxShingleDf)).as("doc_id"))
      .select(col("doc_id"), col("s"))
  }

  /** The q245 machinery, as [[lshDecontamParts]] is q232's:
    * capped-posting candidates AND containment-verified flags from
    * arbitrary train/eval frames (each `(doc_id, text)`). A candidate
    * is any (train, eval) pair sharing a shingle with both docs inside
    * that shingle's [[MaxShingleDf]]-lowest posting cap — ANY shared
    * shingle, so a verbatim extract reaches its source through every
    * one of its shingles, where q232's MinHash banding needs a
    * whole-set signature coincidence. Verify is ASYMMETRIC
    * containment |sh_train ∩ sh_eval| / |sh_eval| >= 0.8. */
  private[graft] def containmentDecontamParts(
      train: DataFrame, evalDocs: DataFrame): (DataFrame, DataFrame) = {
    val (tp, ep) = bothSides(train, evalDocs)
    containmentDecontamPartsOn(tp, ep)
  }

  /** One side's capped shingle postings off its parts: the grouped
    * cap-first machinery on content grain; the plain per-shingle TopK
    * straight off grp's own doc_id on DOC grain, where every group is
    * one doc and the grouped form is an identity detour (round 22 —
    * the prunedParts reasoning, shared by both cross-corpus kernels).
    */
  private def cappedPostingsOf(p: ShingleParts): DataFrame =
    if (p.contentGrain) cappedPostingsGrouped(p.memb, p.grp)
    else cappedPostings(
      p.grp.select(explode(col("sh")).as("s"), col("doc_id")))

  /** Containment kernel over PRE-BUILT content-grain parts (see
    * [[decontamShingleParts]]): candidates at doc grain (the posting
    * cap is doc-grain semantics, reproduced exactly via cap-first),
    * containment verified once per DISTINCT content pair and fanned
    * back to the candidate doc pairs — identical rows to the old
    * doc-grain plan at ~replication² less intersect work. On the
    * doc-grain branch (round 22) the content indirection — two
    * membership joins, a DISTINCT over content pairs, and the
    * fan-back join — is an identity detour (h is the doc id rendered
    * as a string); the verify joins run straight at doc-pair grain on
    * numeric keys. */
  private[graft] def containmentDecontamPartsOn(
      tp: ShingleParts, ep: ShingleParts): (DataFrame, DataFrame) = {
    val (exT, exE) = (cappedPostingsOf(tp), cappedPostingsOf(ep))
    val cand = exT.alias("t")
      .join(exE.alias("e"), col("t.s") === col("e.s"))
      .select(col("t.doc_id").as("train_id"), col("e.doc_id").as("eval_id"))
      .distinct()
    if (!tp.contentGrain && !ep.contentGrain) {
      val flagged = cand
        .join(tp.grp.select(col("doc_id").as("train_id"),
          col("sh").as("sh1")), "train_id")
        .join(ep.grp.select(col("doc_id").as("eval_id"),
          col("sh").as("sh2"), col("nsh").as("n2")), "eval_id")
        .withColumn("containment",
          size(array_intersect(col("sh1"), col("sh2"))).cast(DoubleType) /
            col("n2"))
        .filter(col("containment") >= 0.8)
        .select(col("train_id"), col("eval_id"),
          round(col("containment"), 6).as("containment"))
      return (cand, flagged)
    }
    val candH = cand
      .join(tp.memb.select(col("doc_id").as("train_id"), col("h").as("ht")),
        "train_id")
      .join(ep.memb.select(col("doc_id").as("eval_id"), col("h").as("he")),
        "eval_id")
    val cstats = candH.select(col("ht"), col("he")).distinct()
      .join(tp.grp.select(col("h").as("ht"), col("sh").as("sh1")), "ht")
      .join(ep.grp.select(col("h").as("he"), col("sh").as("sh2"),
        col("nsh").as("n2")), "he")
      .withColumn("containment",
        size(array_intersect(col("sh1"), col("sh2"))).cast(DoubleType) /
          col("n2"))
      .filter(col("containment") >= 0.8)
      .select(col("ht"), col("he"),
        round(col("containment"), 6).as("containment"))
    val flagged = candH.join(cstats, Seq("ht", "he"))
      .select(col("train_id"), col("eval_id"), col("containment"))
    (cand, flagged)
  }

  /** Containment-verified cross-corpus decontamination: the
    * EMBEDDED-leak shape q232 structurally misses. q232's verdict is
    * symmetric Jaccard ≥ 0.5; a short eval item pasted verbatim into
    * a much longer train doc has jac ≈ |eval|/|train| ≪ 0.5 even at
    * edit distance 0, and its MinHash bands rarely collide (each
    * band's min must fall inside the embedded span — P ≈ |e|/|t| per
    * component). This query runs the q112 asymmetric machinery
    * cross-corpus instead: candidates from capped shingle postings
    * (ANY shared shingle within the cap — recall for verbatim
    * embedding comes from every extract shingle, not one signature
    * coincidence), verdict containment-of-eval-in-train ≥ 0.8. The
    * eval probes are planted as exactly that miss case: every 50th
    * doc's MIDDLE THIRD (id negated — disjoint id space at any
    * scale), so jac ≈ 1/3 for the true source pair while containment
    * = 1.0; SCALE.md "Round-12 new-query scaling" has both schemes
    * measured on embedded plants side by side.
    *
    * Scale: posting lists are capped at [[MaxShingleDf]] per shingle
    * per side (q50/q112's bound — cap² candidate rows per shingle,
    * never df²); the verify joins re-attach each side's own
    * materialized shingle table. Recall contract inherited from
    * q112: a pair is found iff SOME shared shingle holds both docs
    * within its cap — for an embedded extract that is ~every one of
    * its shingles, so only a doc whose every shingle is boilerplate
    * shared with 32+ lower-id train docs can hide. */
  private val q245 = Q(
    "q245_containment_decontamination",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val evalDocs = docs.filter(col("doc_id") % 50 === 0)
        .withColumn("w", TextOps.words(col("text")))
        .select((-col("doc_id") - 1).as("doc_id"),
          expr("array_join(slice(w, size(w) div 3 + 1, size(w) div 3), ' ')")
            .as("text"))
      containmentDecontamParts(docs, evalDocs)._2
    },
    Some {
      val w = """string_split(regexp_replace(trim(lower(text)),'\s+',' ',
        'g'),' ')"""
      val shingle =
        """list_distinct([array_to_string(w[i+1:i+5],' ') FOR i IN range(len(w)-4)])"""
      s"""
      WITH evd AS (
        SELECT -doc_id - 1 AS doc_id,
               array_to_string(w[(len(w)//3)+1 : 2*(len(w)//3)], ' ') AS text
        FROM (SELECT doc_id, $w AS w FROM documents)
        WHERE doc_id % 50 = 0),
      shT AS (SELECT doc_id, $shingle AS sh
              FROM (SELECT doc_id, $w AS w FROM documents)),
      shE AS (SELECT doc_id, $shingle AS sh
              FROM (SELECT doc_id, $w AS w FROM evd)),
      exT AS (SELECT doc_id, s FROM (
                SELECT doc_id, unnest(sh) AS s FROM shT) x
              QUALIFY row_number() OVER (PARTITION BY s ORDER BY doc_id)
                <= $MaxShingleDf),
      exE AS (SELECT doc_id, s FROM (
                SELECT doc_id, unnest(sh) AS s FROM shE) x
              QUALIFY row_number() OVER (PARTITION BY s ORDER BY doc_id)
                <= $MaxShingleDf),
      cand AS (SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
               FROM exT t JOIN exE e ON t.s = e.s),
      v AS (SELECT train_id, eval_id,
                   len(list_intersect(s1.sh, s2.sh)) AS inter,
                   len(s2.sh) AS n2
            FROM cand
            JOIN shT s1 ON s1.doc_id = train_id
            JOIN shE s2 ON s2.doc_id = eval_id)
      SELECT train_id, eval_id,
             round(CAST(inter AS DOUBLE) / n2, 6) AS containment
      FROM v WHERE CAST(inter AS DOUBLE) / n2 >= 0.8
      """
    })

  /** ANALYZE-style column profiler: per-column null/distinct counts and
    * min/max (stringified through exact decimal for numerics) — the
    * table-stats surface an optimizer and a data-quality gate both
    * need. The SOURCE is scanned once: the 4-column projection is
    * materialized (localCheckpoint) and the four per-column aggregates
    * run over the materialized copy — re-reads hit executor storage,
    * not the table. The per-column-subquery formulation executed four
    * full fact scans (caught in the round-6 plan audit: 4× remote scan
    * cost at 100 TB); the alternative one-pass multi-DISTINCT
    * aggregate plans an Expand that multiplies the row stream by the
    * column count (measured 13× slower than this at sf0.1) — the
    * materialize-then-aggregate shape is the one that is cheap at BOTH
    * scales.
    */
  private val q85 = Q(
    "q85_column_profile",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
        .localCheckpoint()
      def prof(c: String, v: org.apache.spark.sql.Column) =
        o.agg(
          (count(lit(1)) - count(v)).as("n_nulls"),
          countDistinct(v).as("n_distinct"),
          min(v).cast(StringType).as("min_val"),
          max(v).cast(StringType).as("max_val"))
          .select(lit(c).as("column_name"), col("n_nulls"),
            col("n_distinct"), col("min_val"), col("max_val"))
      prof("o_orderkey", col("o_orderkey"))
        .unionByName(prof("o_orderstatus", col("o_orderstatus")))
        .unionByName(prof("o_totalprice",
          col("o_totalprice").cast(DecimalType(18, 2))))
        .unionByName(prof("o_orderpriority", col("o_orderpriority")))
    },
    Some("""
      SELECT 'o_orderkey' AS column_name,
             COUNT(*) - COUNT(o_orderkey) AS n_nulls,
             COUNT(DISTINCT o_orderkey) AS n_distinct,
             CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
             CAST(MAX(o_orderkey) AS VARCHAR) AS max_val FROM orders
      UNION ALL
      SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
             COUNT(DISTINCT o_orderstatus),
             CAST(MIN(o_orderstatus) AS VARCHAR),
             CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_totalprice', COUNT(*) - COUNT(o_totalprice),
             COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))),
             CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
             COUNT(DISTINCT o_orderpriority),
             CAST(MIN(o_orderpriority) AS VARCHAR),
             CAST(MAX(o_orderpriority) AS VARCHAR) FROM orders
    """))

  /** Duplicate-cluster assignment: connected components over the q50
    * near-dup pair graph (capped-posting candidates, exact Jaccard >=
    * 0.3 verify), by iterative min-label propagation — the step that
    * turns pairwise dup detection into keep-one-per-cluster dedup.
    * Each iteration is one join + one min-aggregate (both
    * key-partitioned shuffles, no driver data); the driver only checks
    * a 1-row convergence aggregate per round, exactly the
    * Pregel/GraphX iteration pattern, and rounds needed = graph
    * diameter (checkpointed lineage, bounded at 20).
    *
    * The pair graph is [[prunedPairStats]] — the SAME
    * [[MaxShingleDf]]-capped machinery as q50/q112, not an uncapped
    * shingle self-join: the uncapped formulation "worked" at bench SF
    * and detonated on the ×100 replication measurement (a shingle
    * shared by m docs emits m² pair rows before the Jaccard filter —
    * OOM at m ≈ 5000), which is exactly the skew blow-up the cap
    * exists to bound. Recall contract inherited from q50: pairs of a
    * >cap-replicated cluster beyond its cap lowest members arrive
    * transitively or not at all (q45/q46/q51 cover full membership).
    * Oracle: DuckDB recursive CTE computing min reachable id per
    * node over the same capped pair set. */
  /** The capped near-dup pair set at the q99 threshold (Jaccard ≥
    * 0.3) — shared by q99's clustering and q281's cluster-closure
    * split so the two can never disagree on what "near-dup" means. */
  private[graft] def dupPairs(docs: DataFrame): DataFrame =
    prunedPairStats(docs)
      .filter(col("inter").cast(DoubleType) /
        (col("n1") + col("n2") - col("inter")) >= 0.3)
      .select(col("d1"), col("d2"))

  /** Min-label propagation over a (d1, d2) pair graph → (id, lbl) for
    * every doc participating in ≥1 pair (the q99 loop, factored for
    * q281). Each iteration is one join + one min-aggregate; rounds =
    * graph diameter, bounded at 20; checkpointed lineage. */
  private[graft] def dupClusterLabels(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .unionByName(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .localCheckpoint()
    var labels = edges.select(col("d1").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint()
    var prevSum = Long.MaxValue
    var iter = 0
    var converged = false
    while (!converged && iter < 20) {
      val prop = edges.join(labels, edges("d1") === labels("id"))
        .select(edges("d2").as("id"), col("lbl"))
      // round 22 (verdict #2): the convergence SUM rides the
      // checkpoint's own materialization via observe() — one job per
      // iteration instead of two (checkpoint + separate 1-row
      // aggregate), same exact Long sum. SUM over an EMPTY label
      // frame (a corpus with no near-dup pairs at all) aggregates to
      // NULL — treat as 0 so the loop converges instead of NPE-ing
      // (the q295/IvfIndexStream degenerate-input guard discipline)
      val obs = org.apache.spark.sql.Observation()
      labels = labels.unionByName(prop)
        .groupBy("id").agg(min(col("lbl")).as("lbl"))
        .observe(obs, sum(col("lbl")).as("s"))
        .localCheckpoint()
      val lblSum = obs.get("s") match {
        case null => 0L
        case v    => v.asInstanceOf[Long]
      }
      converged = lblSum == prevSum
      prevSum = lblSum
      iter += 1
    }
    // stderr diagnostic (round-16 advice #2 tail) — see
    // ClusterIndexQueries.propagateMinLabels
    System.err.println(s"[graft] dupClusterLabels iterations=$iter")
    labels
  }

  private val q99 = Q(
    "q99_dup_clusters",
    (s, dir) => {
      val labels = dupClusterLabels(dupPairs(t(s, dir, "documents")))
      labels.groupBy(col("lbl").as("cluster"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(transform(array_sort(collect_list(col("id"))),
            _.cast(StringType)), ",").as("members"))
    },
    Some(s"""
      WITH RECURSIVE $prunedPairSql,
      pq AS (SELECT d1, d2 FROM v
             WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.3),
      e AS (SELECT d1 AS src, d2 AS dst FROM pq
            UNION ALL SELECT d2, d1 FROM pq),
      n AS (SELECT DISTINCT src AS id FROM e),
      reach(id, m) AS (
        SELECT id, id FROM n
        UNION
        SELECT e.dst, r.m FROM reach r JOIN e ON e.src = r.id),
      lbl AS (SELECT id, MIN(m) AS cluster FROM reach GROUP BY 1)
      SELECT cluster, COUNT(*) AS n_docs,
             array_to_string(list_sort(list(id)), ',') AS members
      FROM lbl GROUP BY 1
    """))

  /** Cluster-closure train/val/test split — the decontamination-aware
    * split a real training pipeline needs: q89's deterministic hash
    * split assigns DOCUMENTS to splits, so the two halves of a
    * near-dup pair can land in train AND test (silent leakage —
    * exactly what q239 audits for). Here the split unit is the DUP
    * CLUSTER: every doc inherits its cluster root's (min member id)
    * hash bucket, so a near-dup pair can never straddle splits — and
    * the output carries the MEASURED straddle count (computed, not
    * asserted; the oracle derives it independently and both must say
    * 0). Singletons are their own root, so the split stays ~80/10/10.
    *
    * Scale shape: [[dupPairs]] + [[dupClusterLabels]] are q99's capped
    * pair machinery (never an uncapped shingle self-join); the closure
    * itself is one left join + hash bucketing; the leak audit is two
    * equi-joins of the pair set against the slim (doc_id, split)
    * assignment. */
  private val q281 = Q(
    "q281_cluster_split",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = dupPairs(docs).localCheckpoint()
      val labels = dupClusterLabels(pairs)
        .withColumnRenamed("id", "doc_id")
      val asg = docs.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("root", coalesce(col("lbl"), col("doc_id")))
        .withColumn("bucket",
          pmod(graft.functions.Exprs.md5Int32(
            col("root").cast(StringType)), lit(10)))
        .withColumn("split",
          when(col("bucket") <= 7, "train")
            .when(col("bucket") === 8, "val")
            .otherwise("test"))
        .localCheckpoint()
      val cross = pairs
        .join(asg.select(col("doc_id").as("d1"), col("split").as("s1")),
          "d1")
        .join(asg.select(col("doc_id").as("d2"), col("split").as("s2")),
          "d2")
        .agg(coalesce(sum(when(col("s1") =!= col("s2"), 1L)
          .otherwise(0L)), lit(0L)).as("n_cross_split_pairs"))
      asg.groupBy(col("split"))
        .agg(graft.functions.Exprs.asLong(count(lit(1))).as("n_docs"),
          graft.functions.Exprs.asLong(count_distinct(col("root")))
            .as("n_clusters"),
          graft.functions.Exprs.asLong(
            sum(when(col("lbl").isNotNull, 1L).otherwise(0L)))
            .as("n_clustered_docs"))
        .crossJoin(broadcast(cross))
        .orderBy(col("split"))
    },
    Some(s"""
      WITH RECURSIVE $prunedPairSql,
      pq AS (SELECT d1, d2 FROM v
             WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.3),
      e AS (SELECT d1 AS src, d2 AS dst FROM pq
            UNION ALL SELECT d2, d1 FROM pq),
      n AS (SELECT DISTINCT src AS id FROM e),
      reach(id, m) AS (
        SELECT id, id FROM n
        UNION
        SELECT e.dst, r.m FROM reach r JOIN e ON e.src = r.id),
      lbl AS (SELECT id, MIN(m) AS lbl FROM reach GROUP BY 1),
      asg AS (
        SELECT d.doc_id, l.lbl,
               COALESCE(l.lbl, d.doc_id) AS root,
               CASE WHEN ('0x' || substr(md5(CAST(COALESCE(l.lbl, d.doc_id)
                        AS VARCHAR)), 1, 8))::BIGINT % 10 <= 7 THEN 'train'
                    WHEN ('0x' || substr(md5(CAST(COALESCE(l.lbl, d.doc_id)
                        AS VARCHAR)), 1, 8))::BIGINT % 10 = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id),
      cx AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN a1.split != a2.split
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross_split_pairs
        FROM pq
        JOIN asg a1 ON a1.doc_id = pq.d1
        JOIN asg a2 ON a2.doc_id = pq.d2)
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT root) AS BIGINT) AS n_clusters,
             CAST(SUM(CASE WHEN lbl IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clustered_docs,
             (SELECT n_cross_split_pairs FROM cx) AS n_cross_split_pairs
      FROM asg GROUP BY 1 ORDER BY 1
    """))

  /** Shingle containment (|A∩B| / min(|A|,|B|) >= 0.9): catches a
    * document CONTAINED in a larger one — the supersetting case
    * Jaccard under-scores when lengths diverge (a 100-word doc pasted
    * into a 10,000-word doc has Jaccard ~0.01 but containment ~1.0).
    * Same capped-posting candidate machinery as q50; only the verify
    * metric differs. */
  private val q112 = Q(
    "q112_containment",
    (s, dir) =>
      prunedPairStats(t(s, dir, "documents"))
        .withColumn("containment",
          col("inter").cast(DoubleType) / least(col("n1"), col("n2")))
        .filter(col("containment") >= 0.9)
        .select(col("d1"), col("d2"),
          round(col("containment"), 6).as("containment")),
    Some(s"""
      WITH $prunedPairSql
      SELECT d1, d2,
             round(CAST(inter AS DOUBLE) / least(n1, n2), 6) AS containment
      FROM v WHERE CAST(inter AS DOUBLE) / least(n1, n2) >= 0.9
    """))

  /** Sparse TF-IDF cosine all-pairs similarity over the rare-term
    * vocabulary — semantic near-dup that survives word REORDERING,
    * which defeats every shingle-based detector above (a shuffled
    * paragraph keeps its TF vector but no 5-gram).
    *
    * The scale design is the classic sparse similarity join: vectors
    * live as (doc, term, weight) posting rows; the dot product is a
    * term-wise equi-join + groupBy-sum, so only pairs SHARING a term
    * are ever scored, never n^2. The vocabulary is restricted to terms
    * with df <= [[MaxShingleDf]] (IDF-speak: the only terms carrying
    * meaningful weight; stop-word postings would contribute df^2 join
    * rows for near-zero IDF), which bounds per-term join fan-out at
    * df^2 <= 1024 — same skew ceiling as the shingle verifiers.
    * Cosine is exact over that vocabulary; ln() is involved, so both
    * engines round to 4 places (the q109 discipline). */
  private val q124 = Q(
    "q124_tfidf_cosine",
    (s, dir) => {
      val c = corpus(t(s, dir, "documents"))
      val nDocs = c.agg(count(lit(1)).as("n_docs"))
      val tf = c.select(col("doc_id"),
          explode(TextOps.words(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("w"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxShingleDf)
      // posting rows (doc, term, tf*idf weight), materialized once —
      // they feed the norm aggregate and BOTH sides of the dot join
      val wts = tf.join(dfreq, "w")
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("w"),
          (col("tf") * log(col("n_docs").cast(DoubleType) / col("df")))
            .as("wt"))
        .localCheckpoint()
      val nrm = wts.groupBy(col("doc_id"))
        .agg(sqrt(sum(col("wt") * col("wt"))).as("nrm"))
      val dot = wts.alias("a")
        .join(wts.alias("b"),
          col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(sum(col("a.wt") * col("b.wt")).as("dot"))
      dot
        .join(nrm.select(col("doc_id").as("d1"), col("nrm").as("nrm1")), "d1")
        .join(nrm.select(col("doc_id").as("d2"), col("nrm").as("nrm2")), "d2")
        .withColumn("cos",
          round(col("dot") / (col("nrm1") * col("nrm2")), 4))
        .filter(col("cos") >= 0.3)
        .select(col("d1"), col("d2"), col("cos"))
    },
    Some {
      val w = """string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ')"""
      s"""
      WITH $corpusSql,
      terms AS (SELECT doc_id, unnest($w) AS w FROM corpus),
      tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      dfreq AS (SELECT w, COUNT(*) AS df FROM tf
                GROUP BY 1 HAVING COUNT(*) <= $MaxShingleDf),
      n AS (SELECT COUNT(*) AS n_docs FROM corpus),
      wts AS (SELECT doc_id, t.w,
                     tf * ln(CAST(n_docs AS DOUBLE) / df) AS wt
              FROM tf t JOIN dfreq d ON t.w = d.w CROSS JOIN n),
      nrm AS (SELECT doc_id, sqrt(SUM(wt * wt)) AS nrm FROM wts GROUP BY 1),
      dot AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                     SUM(a.wt * b.wt) AS dot
              FROM wts a JOIN wts b
              ON a.w = b.w AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
      SELECT d1, d2, round(dot / (x.nrm * y.nrm), 4) AS cos
      FROM dot
      JOIN nrm x ON d1 = x.doc_id
      JOIN nrm y ON d2 = y.doc_id
      WHERE round(dot / (x.nrm * y.nrm), 4) >= 0.3
    """})

  /** First-seen n-gram novelty — per document, how much of it has the
    * corpus already seen in EARLIER documents (doc_id = ingestion
    * order)? The inverted-index aggregate (shingle -> min(doc_id))
    * is one shuffle; the join back is equi on the shingle and each
    * shingle matches exactly ONE first-seen row, so hot boilerplate
    * shingles cause no fan-out amplification — unlike a pairwise
    * overlap join, this stays linear in total postings at 100 TB.
    * Low-novelty documents are the near-duplicates / boilerplate
    * continuations a pretraining pipeline down-weights. */
  private val q130 = Q(
    "q130_novelty_score",
    (s, dir) => {
      // first-seen as a window over the posting table — one shuffle on
      // the shingle key (the aggregate-then-join-back formulation pays
      // that shuffle twice plus the join)
      val sh = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextOps.shingleSet(TextOps.words(col("text")), 5)).as("g"))
      sh.withColumn("first_doc",
          min(col("doc_id")).over(Window.partitionBy(col("g"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast(LongType).as("n_sh"),
          sum((col("first_doc") < col("doc_id")).cast(IntegerType))
            .cast(LongType).as("n_seen"))
        .withColumn("novelty",
          round(lit(1.0) - col("n_seen").cast(DoubleType) / col("n_sh"), 6))
    },
    Some {
      val w = """string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ')"""
      s"""
      WITH tok AS (SELECT doc_id, $w AS w FROM documents),
      sh AS (SELECT doc_id,
                    unnest(list_distinct([array_to_string(w[i+1:i+5],' ')
                                          FOR i IN range(len(w)-4)])) AS g
             FROM tok),
      first AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
                     CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_seen
              FROM sh JOIN first USING (g) GROUP BY 1)
      SELECT doc_id, n_sh, n_seen,
             round(1.0 - CAST(n_seen AS DOUBLE) / n_sh, 6) AS novelty
      FROM agg
      """
    })

  /** Incremental shard deduplication — the production ingest shape:
    * a NEW shard arrives and must be deduplicated against the
    * accumulated HISTORY, not all-pairs against itself. History here
    * is the original corpus; the incoming shard carries 20 exact
    * copies, 10 near copies (last word dropped), and 15 genuinely new
    * documents (word order reversed — same vocabulary, disjoint
    * 5-gram shingles). Exact matches go through a hash anti/semi join
    * on md5(normalized text); near matches through the q51 MinHash
    * band join (incoming bands x history bands — candidate pairs only
    * where a band bucket collides, never |new| x |history|) verified
    * by exact Jaccard >= 0.5. At 100 TB the history side is a compact
    * signature table (hash + 4 band hashes per doc, not text), so the
    * per-shard cost is O(|shard| + collisions), independent of
    * history's raw bytes. */
  private val q133 = Q(
    "q133_incremental_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val w = TextOps.words(col("text"))
      val incoming = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 100000).as("doc_id"),
            array_join(slice(w, lit(1), size(w) - 1), " ").as("text")))
        .unionByName(docs.filter(col("doc_id") < 15)
          .select((col("doc_id") + 300000).as("doc_id"),
            array_join(reverse(w), " ").as("text")))
      def sig(d: DataFrame): DataFrame = {
        val withSh = d.select(col("doc_id"),
          md5(TextOps.norm(col("text"))).as("h"),
          TextOps.shingleSet(TextOps.words(col("text")), 5).as("sh"))
        val ms = graft.plans.MinHashSig.minhashSig(col("sh"), 8)
        withSh.withColumn("bands",
          array((0 until 4).map(j =>
            md5(concat(element_at(ms, 2 * j + 1),
              element_at(ms, 2 * j + 2)))): _*))
      }
      val hist = sig(docs.select(col("doc_id"), col("text")))
        .localCheckpoint()
      val inc = sig(incoming).localCheckpoint()
      val exact = inc.join(hist.select(col("h")).distinct(), Seq("h"),
          "left_semi")
        .select(col("doc_id"))
      // the HISTORY side of the band join ships only (doc_id, band)
      // rows — at scale history dwarfs the shard, so its shingle sets
      // must not ride the 4-way band explode; the incoming shard (the
      // small side) carries its own shingles, and history's rejoin
      // from the checkpointed signature table for candidate pairs only
      val incBands = inc.join(exact, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("sh"),
          posexplode(col("bands")).as(Seq("bi", "bh")))
      val histBands = hist
        .select(col("doc_id").as("hid"),
          posexplode(col("bands")).as(Seq("bi", "bh")))
      val near = incBands.join(histBands, Seq("bi", "bh"))
        .join(hist.select(col("doc_id").as("hid"), col("sh").as("hsh"))
          .hint("shuffle_hash"), "hid")
        .withColumn("inter", size(array_intersect(col("sh"), col("hsh"))))
        .withColumn("uni",
          size(col("sh")) + size(col("hsh")) - col("inter"))
        .filter(col("inter").cast(DoubleType) / col("uni") >= 0.5)
        .select(col("doc_id")).distinct()
      val counts = inc.agg(count(lit(1)).cast(LongType).as("n_incoming"))
        .crossJoin(broadcast(
          exact.agg(count(lit(1)).cast(LongType).as("n_exact"))))
        .crossJoin(broadcast(
          near.agg(count(lit(1)).cast(LongType).as("n_near"))))
      counts.select(col("n_incoming"), col("n_exact"), col("n_near"),
        (col("n_incoming") - col("n_exact") - col("n_near")).as("n_new"))
    },
    Some {
      val w = """string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ')"""
      val mins = (0 until 8).map(i =>
        s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
      val bandSel = (0 until 4).map(j =>
        s"SELECT doc_id, $j AS bi, md5(m${2 * j}||m${2 * j + 1}) AS bh, sh FROM %s")
      s"""
      WITH incoming AS (
        SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id < 20
        UNION ALL
        SELECT doc_id + 100000 AS doc_id,
               array_to_string(($w)[1:len($w)-1], ' ') AS text
        FROM documents WHERE doc_id < 10
        UNION ALL
        SELECT doc_id + 300000 AS doc_id,
               array_to_string(list_reverse($w), ' ') AS text
        FROM documents WHERE doc_id < 15),
      hsig AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)),'\\s+',' ','g')) AS h,
                      list_distinct([array_to_string(($w)[i+1:i+5],' ')
                                     FOR i IN range(len($w)-4)]) AS sh
               FROM documents),
      isig AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)),'\\s+',' ','g')) AS h,
                      list_distinct([array_to_string(($w)[i+1:i+5],' ')
                                     FOR i IN range(len($w)-4)]) AS sh
               FROM incoming),
      hmh AS (SELECT doc_id, sh, $mins FROM hsig),
      imh AS (SELECT doc_id, sh, $mins FROM isig),
      hbands AS (${bandSel.map(_.format("hmh")).mkString(" UNION ALL ")}),
      ibands AS (${bandSel.map(_.format("imh")).mkString(" UNION ALL ")}),
      exact AS (SELECT DISTINCT i.doc_id FROM isig i
                WHERE i.h IN (SELECT h FROM hsig)),
      near AS (SELECT DISTINCT i.doc_id
               FROM ibands i JOIN hbands h2
               ON i.bi = h2.bi AND i.bh = h2.bh
               WHERE i.doc_id NOT IN (SELECT doc_id FROM exact)
                 AND CAST(len(list_intersect(i.sh, h2.sh)) AS DOUBLE)
                     / (len(i.sh) + len(h2.sh)
                        - len(list_intersect(i.sh, h2.sh))) >= 0.5),
      c AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM isig) AS n_incoming,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM near) AS n_near)
      SELECT n_incoming, n_exact, n_near,
             n_incoming - n_exact - n_near AS n_new
      FROM c
      """
    })

  /** Prefix-truncation dedup — the duplicate class Jaccard misses:
    * a truncated copy of a long document shares only len(prefix)/len
    * of its shingles, sailing under any symmetric-similarity
    * threshold, yet is pure redundancy for training. Candidates are
    * blocked on the md5 of the first 4 normalized words (one equi-join
    * key — at 100 TB the block sizes are the only join fan-out, the
    * classic prefix-blocking trade), then verified by an exact
    * character-prefix check with a trailing-space guard so "w3" never
    * matches "w30". The corpus plants 12 half-length truncations
    * (doc_id+400000). */
  private val q136 = Q(
    "q136_prefix_dedup",
    (s, dir) => {
      val w = TextOps.words(col("text"))
      val docs = t(s, dir, "documents")
      val withTrunc = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 12)
          .select((col("doc_id") + 400000).as("doc_id"),
            array_join(slice(w, lit(1), (size(w) / 2).cast(IntegerType)),
              " ").as("text")))
      // signature table materialized once — both join sides reuse it
      // instead of re-normalizing the corpus (q51 index discipline)
      val sig = withTrunc.select(col("doc_id"),
        TextOps.norm(col("text")).as("nrm"))
        .withColumn("nw", size(split(col("nrm"), " ")))
        .withColumn("key",
          md5(concat_ws(" ", slice(split(col("nrm"), " "), 1, 4))))
        .localCheckpoint()
      sig.alias("a").join(sig.alias("b"),
          col("a.key") === col("b.key") &&
            col("a.nw") < col("b.nw") &&
            col("b.nrm").startsWith(concat(col("a.nrm"), lit(" "))))
        .select(col("a.doc_id").as("prefix_doc"),
          col("b.doc_id").as("full_doc"),
          col("a.nw").cast(LongType).as("n_prefix"),
          col("b.nw").cast(LongType).as("n_full"))
    },
    Some {
      val w = """string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ')"""
      s"""
      WITH withTrunc AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 400000 AS doc_id,
               array_to_string(($w)[1:CAST(len($w) // 2 AS INT)], ' ')
                 AS text
        FROM documents WHERE doc_id < 12),
      sig AS (SELECT doc_id,
                     regexp_replace(trim(lower(text)),'\\s+',' ','g') AS nrm
              FROM withTrunc),
      keyed AS (SELECT doc_id, nrm,
                       len(string_split(nrm, ' ')) AS nw,
                       md5(array_to_string(
                         string_split(nrm, ' ')[1:4], ' ')) AS key
                FROM sig)
      SELECT a.doc_id AS prefix_doc, b.doc_id AS full_doc,
             CAST(a.nw AS BIGINT) AS n_prefix,
             CAST(b.nw AS BIGINT) AS n_full
      FROM keyed a JOIN keyed b
      ON a.key = b.key AND a.nw < b.nw
         AND starts_with(b.nrm, a.nrm || ' ')
      """
    })

  /** Trigram-blocked fuzzy string self-join (the pg_trgm / Elastic
    * fuzzy-match pattern) over part names, with the q176 vocabulary
    * trick: similarity is computed on the DISTINCT-NAME DICTIONARY
    * (64 names here, vocabulary-bounded at any fact scale), then pair
    * counts multiply back through the name frequencies in exact
    * integer space (c1·c2 cross-name, C(cnt,2) same-name). The
    * trigram equi-join is the blocking step — candidate pairs share at
    * least one trigram, never the all-pairs cross product — and the
    * Jaccard over distinct trigram sets is integer-derived, so the
    * 2dp-rounded buckets hash-match across engines.
    */
  private val q196 = Q(
    "q196_trigram_join",
    (s, dir) => {
      val names = t(s, dir, "part")
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).cast(LongType).as("cnt"))
      val tg = names.withColumn("g", array_distinct(expr(
        "transform(sequence(1, length(name) - 2), i -> substring(name, i, 3))")))
      val ex = tg.select(col("name"), col("cnt"),
        size(col("g")).as("ng"), explode(col("g")).as("gram"))
      val a = ex.select(col("name").as("n1"), col("cnt").as("c1"),
        col("ng").as("g1"), col("gram"))
      val b = ex.select(col("name").as("n2"), col("cnt").as("c2"),
        col("ng").as("g2"), col("gram"))
      val shared = a.join(b,
          a("gram") === b("gram") && col("n1") < col("n2"))
        .groupBy(col("n1"), col("n2"), col("c1"), col("c2"),
          col("g1"), col("g2"))
        .agg(count(lit(1)).as("sh"))
      val j = col("sh").cast(DoubleType) /
        (col("g1") + col("g2") - col("sh"))
      val cross = shared.filter(j >= 0.4)
        .select(round(j, 2).as("j"), (col("c1") * col("c2")).as("np"))
      val same = names.filter(col("cnt") > 1)
        .select(lit(1.0).as("j"),
          expr("cnt * (cnt - 1) div 2").as("np"))
      cross.unionByName(same)
        .groupBy(col("j"))
        .agg(sum(col("np")).cast(LongType).as("n_pairs"))
    },
    Some("""
      WITH names AS (
        SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM part GROUP BY 1),
      tg AS (
        SELECT name, cnt, list_distinct([substr(name, CAST(i AS INT), 3)
          FOR i IN range(1, length(name) - 1)]) AS g
        FROM names),
      ex AS (SELECT name, cnt, len(g) AS ng, unnest(g) AS gram FROM tg),
      shared AS (
        SELECT a.name AS n1, b.name AS n2, a.cnt AS c1, b.cnt AS c2,
               a.ng AS g1, b.ng AS g2, COUNT(*) AS sh
        FROM ex a JOIN ex b ON a.gram = b.gram AND a.name < b.name
        GROUP BY 1, 2, 3, 4, 5, 6),
      pairs AS (
        SELECT ROUND(CAST(sh AS DOUBLE) / (g1 + g2 - sh), 2) AS j,
               c1 * c2 AS np
        FROM shared WHERE CAST(sh AS DOUBLE) / (g1 + g2 - sh) >= 0.4
        UNION ALL
        SELECT 1.0 AS j, cnt * (cnt - 1) // 2 AS np
        FROM names WHERE cnt > 1)
      SELECT j, CAST(SUM(np) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY 1
    """))

  /** Cross-corpus LSH decontamination: NEAR-duplicate train→eval
    * leakage detection as an ASYMMETRIC banded join — the
    * index-vs-query LSH shape, where q51 is the self-join variant and
    * q223 the exact-13-gram variant. The eval probe set is built
    * identically on both engines (every 50th doc, last word dropped,
    * id negated — the same near-copy construction the dedup corpus
    * plants), train = the full documents table; a train doc is
    * flagged iff it shares any of 8 MinHash band buckets with an eval
    * doc AND exact Jaccard on the full shingle sets is ≥ 0.5.
    *
    * Scale: both sides hash to (band_idx, band_hash) keys and the
    * candidate join is bucket-equi — candidates are bucket
    * co-occupants only, never eval x train; the verify joins re-attach
    * each side's OWN shingle table (built once, localCheckpoint'd).
    * The eval band table (8 narrow rows per eval doc) goes through
    * [[GatedBroadcast]] on the count its localCheckpoint already paid
    * for — under the gate the corpus-side band table streams with NO
    * exchange; past it (1.25M+ eval docs) the join falls back to
    * shuffle. The verify joins stay shuffled: their small side (the
    * candidate list) is runtime-sized, which is AQE's job. */
  /** The q232 machinery over arbitrary train/eval frames (each
    * `(doc_id, text)`): banded candidates AND verified flags from the
    * scheme the query ships — 5-shingles, 8 MinHash rows in 8 bands of
    * 1 (the round-11 retune, see q232), Jaccard ≥ 0.5 verify. A probe
    * measuring q232 calls this, never a reimplementation that could
    * drift (SCALE.md round 11). Returns (candidates, flagged):
    * candidates = distinct (train_id, eval_id) band collisions,
    * flagged = the verified subset with exact Jaccard. */
  private[graft] def lshDecontamParts(
      train: DataFrame, evalDocs: DataFrame): (DataFrame, DataFrame) = {
    val (tp, ep) = bothSides(train, evalDocs)
    lshDecontamPartsOn(tp, ep)
  }

  /** Both sides' [[decontamShingleParts]] built CONCURRENTLY (round 21,
    * guide §2.6 "overlap independent jobs"): each side's construction
    * runs eager checkpoint + census jobs over tiny frames, and running
    * them sequentially left the cluster idle during every job's tail —
    * the train and eval subtrees share nothing, so their jobs
    * back-fill each other under the default FIFO scheduler. Identical
    * plans, identical results; only job SUBMISSION overlaps. */
  private[graft] def bothSides(train: DataFrame, evalDocs: DataFrame)
      : (ShingleParts, ShingleParts) = {
    Overlap.scope { o =>
      val tf = o.fork(decontamShingleParts(
        train.select(col("doc_id"), col("text"))))
      val ef = o.fork(decontamShingleParts(
        evalDocs.select(col("doc_id"), col("text"))))
      (tf.join, ef.join)
    }
  }

  /** LSH kernel over PRE-BUILT content-grain parts (see
    * [[decontamShingleParts]]): banding and verification run once per
    * DISTINCT content (signatures depend only on the text — the
    * q251/q276 fact), and both outputs fan back to doc grain through
    * the membership joins — identical rows to the old doc-grain
    * plan. */
  private[graft] def lshDecontamPartsOn(
      tp: ShingleParts, ep: ShingleParts): (DataFrame, DataFrame) = {
    val (tg, eg) = (tp.grp, ep.grp)
    // concat, NOT concat_ws: a content with < 5 words has an empty
    // shingle set and NULL minhash components, and concat_ws would
    // collapse those to md5('') — one shared constant bucket that
    // cross-products every short train doc with every short eval
    // doc AND diverges from the oracle's NULL-propagating list_min.
    // concat propagates the NULL, the band hash stays NULL, and a
    // null key never equi-joins: short docs generate no candidates
    // on either engine.
    // round 21: the signature pass is widened + checkpointed per side
    // (minhashSigTable discipline) — the lazy form re-evaluated the
    // ms tree inside the join's inferred `isnotnull(bh)`/size filters
    // up to 8× per row, single-task (measured 2.4–2.6 s on the
    // train side at sf0.1); the checkpoint computes it once, parallel,
    // and is the pushdown barrier
    def bandsOf(c: DataFrame): DataFrame = {
      val sig = widenCk(c.select(col("h"), col("sh")), Seq(col("h")))
        .withColumn("ms", graft.plans.MinHashSig.minhashSig(col("sh"), 8))
        .withColumn("bands", array((0 until 8).map(j =>
          md5(concat(element_at(col("ms"), j + 1)))): _*))
        .select(col("h"), col("bands"))
        .localCheckpoint()
      sig.select(col("h"),
        posexplode(col("bands")).as(Seq("band_idx", "bh")))
    }
    // the two sides' signature checkpoints are independent — overlap
    // their jobs (guide §2.6)
    val (bandsT, bandsE0) = Overlap.scope { o =>
      val (tf, ef) = (o.fork(bandsOf(tg)), o.fork(bandsOf(eg)))
      (tf.join, ef.join)
    }
    // measurement is free: |grp| rode the eval side's checkpoint job
    // (ShingleParts.nGroups, round 22 — the old form paid a separate
    // count() job here); bands are exactly 8 rows per eval
    // CONTENT — an even smaller broadcast than the old per-doc table
    val bandsE = GatedBroadcast(bandsE0, ep.nGroups * 8)
    val candG = bandsT.alias("t")
      .join(bandsE.alias("e"),
        col("t.band_idx") === col("e.band_idx") &&
          col("t.bh") === col("e.bh"))
      .select(col("t.h").as("ht"), col("e.h").as("he"))
      .distinct()
      .localCheckpoint()
    val flaggedG = candG
      .join(tg.select(col("h").as("ht"), col("sh").as("sh1"),
        col("nsh").as("n1")), "ht")
      .join(eg.select(col("h").as("he"), col("sh").as("sh2"),
        col("nsh").as("n2")), "he")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("ht"), col("he"), round(col("jaccard"), 6).as("jac"))
    // fan back to doc grain. On a DOC-grain side h is the doc id
    // rendered as a string (round 22): the membership join is an
    // identity detour — read the id straight off the group key (cast
    // round-trips exactly for longs).
    def docIds(df: DataFrame, hc: String, side: ShingleParts,
        out: String): DataFrame =
      if (!side.contentGrain)
        df.withColumn(out, col(hc).cast(LongType))
      else
        df.join(side.memb.select(col("doc_id").as(out),
          col("h").as(hc)), hc)
    def fanBack(df: DataFrame): DataFrame =
      docIds(docIds(df, "ht", tp, "train_id"), "he", ep, "eval_id")
    val cand = fanBack(candG).select(col("train_id"), col("eval_id"))
    val flagged = fanBack(flaggedG)
      .select(col("train_id"), col("eval_id"), col("jac"))
    (cand, flagged)
  }

  private val q232 = Q(
    "q232_lsh_decontamination",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val w = TextOps.words(col("text"))
      // Eval ids are NEGATED (-id-1): doc_id >= 0 on every fixture, so
      // the eval id space is disjoint from train ids at ANY scale —
      // a fixed "+500000" offset collides once GenScale strides doc_id
      // past the offset (x10/x100 fixtures stride >= 1M).
      val evalDocs = docs.filter(col("doc_id") % 50 === 0)
        .select((-col("doc_id") - 1).as("doc_id"),
          array_join(slice(w, lit(1), size(w) - 1), " ").as("text"))
      // lshDecontamParts bands 8 x 1 row (round-11 retune,
      // measured): the original 4x2 scheme's S-curve midpoint
      // (1/4)^(1/2) = 0.5 sits exactly AT the tau=0.5 verify
      // threshold, so it silently lost 10-25%
      // of TRUE >=0.5-Jaccard leaks in the planted-leak probe (118
      // vs 132 flags at edit distance 3, 84 vs 98 at 4 — identical
      // at x1/x10/x100). 8x1's midpoint is 1/8, recall at tau is
      // 1-(1-0.5)^8 = 0.996, and the measured candidate cost is only
      // 3.5-20% higher (shrinking with scale: 16.8k -> 17.4k at
      // x100). Decontamination is recall-critical — a missed leak
      // poisons an eval — so the banding belongs well BELOW the
      // verify threshold, which does the precision work. SCALE.md
      // round-11 records the full table.
      lshDecontamParts(docs, evalDocs)._2
    },
    Some {
      val w = """string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ')"""
      val mins = (0 until 8).map(i =>
        s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
      def bandSelects(mh: String) = (0 until 8).map(j =>
        s"SELECT doc_id, $j AS band_idx, md5(m$j) AS bh FROM $mh")
        .mkString(" UNION ALL ")
      val shingle =
        """list_distinct([array_to_string(w[i+1:i+5],' ') FOR i IN range(len(w)-4)])"""
      s"""
      WITH evd AS (
        SELECT -doc_id - 1 AS doc_id,
               array_to_string(($w)[1:len($w)-1], ' ') AS text
        FROM documents WHERE doc_id % 50 = 0),
      shT AS (SELECT doc_id, $shingle AS sh
              FROM (SELECT doc_id, $w AS w FROM documents)),
      shE AS (SELECT doc_id, $shingle AS sh
              FROM (SELECT doc_id, $w AS w FROM evd)),
      mhT AS (SELECT doc_id, sh, $mins FROM shT),
      mhE AS (SELECT doc_id, sh, $mins FROM shE),
      bT AS (${bandSelects("mhT")}),
      bE AS (${bandSelects("mhE")}),
      cand AS (SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
               FROM bT t JOIN bE e
               ON t.band_idx = e.band_idx AND t.bh = e.bh),
      v AS (SELECT train_id, eval_id,
                   len(list_intersect(s1.sh, s2.sh)) AS inter,
                   len(s1.sh) AS n1, len(s2.sh) AS n2
            FROM cand
            JOIN shT s1 ON s1.doc_id = train_id
            JOIN shE s2 ON s2.doc_id = eval_id)
      SELECT train_id, eval_id,
             round(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 6) AS jac
      FROM v WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.5
      """
    })

  /** Unified decontamination VERDICT — the report a pipeline actually
    * ships after running its leak detectors: both shipped cross-corpus
    * paths (q232's symmetric MinHash-LSH + Jaccard ≥ 0.5, q245's
    * capped-posting containment ≥ 0.8) over ONE eval corpus that
    * plants both leak shapes — a NEAR-COPY of every 50th doc (its
    * text minus the last word; odd-negative ids −2·id−1) and an
    * EMBEDDED EXTRACT (its middle third; even-negative ids −2·id−2) —
    * with per-pair provenance: method = 'both' | 'lsh' |
    * 'containment' | 'semantic'. Round 13 adds the THIRD leak shape
    * and detector: a PARAPHRASED leak (every 2nd word substituted —
    * no 5-gram shingle survives, so both lexical detectors see
    * nothing — while the doc's EMBEDDING, perturbed +0.01 on every
    * 7th component, stays ~0.9995-collinear with its source's; ids
    * −2·id−3) caught only by q248's embedding-grain detector
    * ([[SimilarityQueries.semanticDecontamParts]]: hyperplane-LSH
    * buckets + 1-bit multiprobe, exact cosine ≥ 0.99). The three
    * shapes are the three detectors' blind spots made visible in one
    * table: near-copies flag on both lexical detectors, embedded
    * extracts only on containment (jac ≈ 1/3 ≪ 0.5 — the q245 design
    * note), paraphrases only on semantic. Eval id spaces are disjoint
    * from train ids (negative) and from each other (−2k−1 / −2k−2 /
    * −2k−3 with k ≡ 0 mod 50) at any GenScale stride.
    *
    * Scale: all three kernels are the shipped ones (shared-code
    * discipline — the verdict can never drift from the detectors);
    * cost ≈ q232 + q245 + q248 on the widened eval side, all bounded
    * by the same banding/capped-posting/bucket-probe shapes. */
  private val q247 = Q(
    "q247_decontam_verdict",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 50 === 0)
        .withColumn("w", TextOps.words(col("text")))
      val nearCopy = base.select((col("doc_id") * -2 - 1).as("doc_id"),
        array_join(slice(col("w"), lit(1), size(col("w")) - 1), " ")
          .as("text"))
      val embedded = base.select((col("doc_id") * -2 - 2).as("doc_id"),
        expr("array_join(slice(w, size(w) div 3 + 1, size(w) div 3), ' ')")
          .as("text"))
      // paraphrase plant: substituted text (kills every 5-gram) tied
      // to a perturbed copy of the doc's embedding via doc_id==vec_id
      // round 21 (guide §2.6): the verdict's subtrees are independent
      // until the final assembly — para/train/eval part construction
      // and the semantic arm's bucket checkpoints each run eager jobs
      // over tiny frames, and sequential construction serialized ~25
      // such jobs; overlapping their SUBMISSION back-fills the idle
      // cores with identical plans and identical results
      val (lsh, con, sem) = Overlap.scope { o =>
        val trainF = o.fork(decontamShingleParts(
          docs.select(col("doc_id"), col("text"))))
        val para = o.fork {
          base
            .select(col("doc_id"), (col("doc_id") * -2 - 3).as("eval_id"),
              array_join(transform(col("w"), (x, i) =>
                when(i % 2 === 1, lit("xq")).otherwise(x)), " ").as("text"))
            .join(t(s, dir, "embeddings").select(col("vec_id"),
              transform(col("embedding"), x => x.cast(DoubleType)).as("v0")),
              col("doc_id") === col("vec_id"))
            .select(col("eval_id"), col("text"),
              transform(col("v0"), (x, i) =>
                when(i % 7 === 0, x + lit(0.01)).otherwise(x)).as("v"))
            .localCheckpoint()
        }.join
        val evalDocs = nearCopy.unionByName(embedded)
          .unionByName(para.select(col("eval_id").as("doc_id"), col("text")))
        // shared-kernel discipline, round 15 (content-grain since round
        // 18): each side's tokenize+shingle pass materializes ONCE — at
        // one row per DISTINCT content — and feeds both lexical arms
        val evalF = o.fork(decontamShingleParts(
          evalDocs.select(col("doc_id"), col("text"))))
        val semF = o.fork(SimilarityQueries.semanticDecontamParts(
          t(s, dir, "embeddings").select(col("vec_id"),
            transform(col("embedding"), x => x.cast(DoubleType)).as("v")),
          para.select(col("eval_id"), col("v")))._2)
        val (tp, ep) = (trainF.join, evalF.join)
        val lsh = lshDecontamPartsOn(tp, ep)._2
        val con = containmentDecontamPartsOn(tp, ep)._2
        (lsh, con, semF.join)
      }
      lsh.join(con, Seq("train_id", "eval_id"), "full_outer")
        .select(col("train_id"), col("eval_id"),
          col("jac"), col("containment"),
          lit(null).cast(DoubleType).as("sim"),
          when(col("jac").isNotNull && col("containment").isNotNull,
            "both")
            .when(col("jac").isNotNull, "lsh")
            .otherwise("containment").as("method"))
        .unionByName(sem.select(col("train_id"), col("eval_id"),
          lit(null).cast(DoubleType).as("jac"),
          lit(null).cast(DoubleType).as("containment"),
          col("sim"), lit("semantic").as("method")))
    },
    Some {
      val w = """string_split(regexp_replace(trim(lower(text)),'\s+',' ','g'),' ')"""
      val mins = (0 until 8).map(i =>
        s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
      def bandSelects(mh: String) = (0 until 8).map(j =>
        s"SELECT doc_id, $j AS band_idx, md5(m$j) AS bh FROM $mh")
        .mkString(" UNION ALL ")
      val shingle =
        """list_distinct([array_to_string(w[i+1:i+5],' ') FOR i IN range(len(w)-4)])"""
      s"""
      WITH evd AS (
        SELECT -2*doc_id - 1 AS doc_id,
               array_to_string(w[1:len(w)-1], ' ') AS text
        FROM (SELECT doc_id, $w AS w FROM documents)
        WHERE doc_id % 50 = 0
        UNION ALL
        SELECT -2*doc_id - 2 AS doc_id,
               array_to_string(w[(len(w)//3)+1 : 2*(len(w)//3)], ' ') AS text
        FROM (SELECT doc_id, $w AS w FROM documents)
        WHERE doc_id % 50 = 0
        UNION ALL
        SELECT -2*d.doc_id - 3 AS doc_id,
               array_to_string([CASE WHEN i % 2 = 1 THEN 'xq' ELSE w[i+1] END
                 FOR i IN range(len(w))], ' ') AS text
        FROM (SELECT doc_id, $w AS w FROM documents) d
        JOIN embeddings em ON em.vec_id = d.doc_id
        WHERE d.doc_id % 50 = 0),
      shT AS (SELECT doc_id, $shingle AS sh
              FROM (SELECT doc_id, $w AS w FROM documents)),
      shE AS (SELECT doc_id, $shingle AS sh
              FROM (SELECT doc_id, $w AS w FROM evd)),
      mhT AS (SELECT doc_id, sh, $mins FROM shT),
      mhE AS (SELECT doc_id, sh, $mins FROM shE),
      bT AS (${bandSelects("mhT")}),
      bE AS (${bandSelects("mhE")}),
      candL AS (SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
                FROM bT t JOIN bE e
                ON t.band_idx = e.band_idx AND t.bh = e.bh),
      vL AS (SELECT train_id, eval_id,
                    len(list_intersect(s1.sh, s2.sh)) AS inter,
                    len(s1.sh) AS n1, len(s2.sh) AS n2
             FROM candL
             JOIN shT s1 ON s1.doc_id = train_id
             JOIN shE s2 ON s2.doc_id = eval_id),
      fL AS (SELECT train_id, eval_id,
                    round(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 6) AS jac
             FROM vL
             WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.5),
      exT AS (SELECT doc_id, s FROM (
                SELECT doc_id, unnest(sh) AS s FROM shT) x
              QUALIFY row_number() OVER (PARTITION BY s ORDER BY doc_id)
                <= $MaxShingleDf),
      exE AS (SELECT doc_id, s FROM (
                SELECT doc_id, unnest(sh) AS s FROM shE) x
              QUALIFY row_number() OVER (PARTITION BY s ORDER BY doc_id)
                <= $MaxShingleDf),
      candC AS (SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
                FROM exT t JOIN exE e ON t.s = e.s),
      vC AS (SELECT train_id, eval_id,
                    len(list_intersect(s1.sh, s2.sh)) AS inter,
                    len(s2.sh) AS n2
             FROM candC
             JOIN shT s1 ON s1.doc_id = train_id
             JOIN shE s2 ON s2.doc_id = eval_id),
      fC AS (SELECT train_id, eval_id,
                    round(CAST(inter AS DOUBLE) / n2, 6) AS containment
             FROM vC WHERE CAST(inter AS DOUBLE) / n2 >= 0.8),
      emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      evv AS (SELECT -2*vec_id - 3 AS eval_id,
                     [CASE WHEN i % 7 = 0 THEN v[i+1] + 0.01 ELSE v[i+1] END
                      FOR i IN range(${SimilarityQueries.DIM})] AS v
              FROM emb JOIN documents d ON d.doc_id = emb.vec_id
              WHERE vec_id % 50 = 0),
      tbS AS (SELECT vec_id, v,
                     ${SimilarityQueries.duckBucketBits("v")} AS bucket
              FROM emb),
      ebS AS (SELECT eval_id, v,
                     ${SimilarityQueries.duckBucketBits("v")} AS bucket
              FROM evv),
      prS AS (SELECT eval_id, xor(bucket, CAST(m AS BIGINT)) AS bucket
              FROM ebS,
                   (SELECT unnest([${SimilarityQueries.ProbeMasks
                     .mkString(", ")}]) AS m) mm),
      caS AS (SELECT t.vec_id AS train_id, e.eval_id
              FROM tbS t JOIN prS e USING (bucket)),
      vS AS (SELECT caS.train_id, caS.eval_id,
                    list_dot_product(t.v, e.v) /
                      (sqrt(list_dot_product(t.v, t.v)) *
                       sqrt(list_dot_product(e.v, e.v))) AS sim
             FROM caS
             JOIN tbS t ON t.vec_id = caS.train_id
             JOIN ebS e ON e.eval_id = caS.eval_id),
      fS AS (SELECT train_id, eval_id, round(sim, 6) AS sim
             FROM vS WHERE sim >= 0.99)
      SELECT COALESCE(l.train_id, c.train_id) AS train_id,
             COALESCE(l.eval_id, c.eval_id) AS eval_id,
             l.jac, c.containment, CAST(NULL AS DOUBLE) AS sim,
             CASE WHEN l.jac IS NOT NULL AND c.containment IS NOT NULL
                    THEN 'both'
                  WHEN l.jac IS NOT NULL THEN 'lsh'
                  ELSE 'containment' END AS method
      FROM fL l FULL OUTER JOIN fC c
        ON l.train_id = c.train_id AND l.eval_id = c.eval_id
      UNION ALL
      SELECT train_id, eval_id, CAST(NULL AS DOUBLE) AS jac,
             CAST(NULL AS DOUBLE) AS containment, sim,
             'semantic' AS method
      FROM fS
      """
    })

  /** Streaming near-dup GATE, batch-replay formulation — the dedup
    * family's ingest-time member (VERDICT r12 #4). Semantics: the
    * corpus arrives in deterministic micro-batches (batch_id =
    * doc_id div 100); a document is FLAGGED iff some band of its
    * MinHash signature (the q51/q241 shared [[minhashBandTable]]
    * kernel — 8 components, 4 bands of 2) was already seen in an
    * EARLIER batch, with the flag carrying how many bands hit and the
    * lowest-id prior owner. Same-batch peers do not flag each other —
    * state updates at batch boundaries, which is exactly what the
    * streaming form ([[graft.streaming.DedupGateProcessor]]:
    * transformWithState, ValueState[min doc_id] keyed by band hash)
    * computes per micro-batch; StreamDedupGateSpec pins the two
    * formulations equal on a planted corpus and across a checkpointed
    * restart. State/shuffle ∝ DISTINCT band signatures, never
    * documents — the property that lets the gate run at ingest over
    * an unbounded stream. Short docs (< 5 words) have NULL band
    * hashes and pass the gate unexamined on both engines (null never
    * equi-joins; the processor filters null keys). */
  private val q251 = {
    val BatchSize = 100L
    Q(
      "q251_streaming_dedup_gate",
      (s, dir) => {
        // CONTENT-GROUP grain for the signature pass (round-18: the
        // q241/q276 reshape this query never received). A signature
        // depends only on the normalized text, so shingle + 8×MinHash
        // runs once per DISTINCT content and fans back out to per-doc
        // band rows through a membership equi-join —
        // LshIndexQueries.signatures IS that kernel (same banding,
        // null-text and null-bh rows dropped; a null bh never
        // equi-joined into the output here anyway). The round-18
        // stage breakdown (SCALE.md) measured the old per-DOC
        // pass at 38-50 s of the query's 39-51 s total at ×100 —
        // ~100 replicas per content, ~100× redundant minhash — and
        // its multi-GB doc-grain shingle lineage was also the
        // storage-pressure variance source behind q251's 18-44 s
        // cross-protocol spread (SCALE.md round-18 note).
        val bands = LshIndexQueries
          .signatures(corpus(t(s, dir, "documents")))
          .select(col("doc_id"), col("band_idx"), col("bh"))
          .withColumn("batch_id", expr(s"doc_id div $BatchSize"))
          .localCheckpoint()
        // Scale shape: NEVER the naive band self-join — on a corpus
        // with F exact copies per text every band bucket holds F+
        // docs and the pair join is Σ|bucket|² (~2×10⁸ rows at the
        // ×100 fixture). Instead mirror what the streaming state
        // actually holds: one running MIN per signature. Aggregate to
        // per-(signature, batch) minima (vocabulary-scale), prefix-min
        // over the per-signature batch sequence (bounded window
        // groups — batches per signature, never corpus rows), then
        // ONE equi-join row per (doc, band). Same output, pair-free.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_idx"), col("bh"))
          .orderBy(col("batch_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        val prefix = bands
          .groupBy(col("band_idx"), col("bh"), col("batch_id"))
          .agg(min(col("doc_id")).as("batch_min"))
          .withColumn("min_earlier", min(col("batch_min")).over(w))
          .filter(col("min_earlier").isNotNull)
          .drop("batch_min")
        bands.join(prefix, Seq("band_idx", "bh", "batch_id"))
          .groupBy(col("doc_id"), col("batch_id"))
          .agg(count(lit(1)).as("n_hit_bands"),
            min(col("min_earlier")).as("first_seen"))
      },
      Some {
        val mins = (0 until 8).map(i =>
          s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
        val bandSelects = (0 until 4).map(j =>
          s"SELECT doc_id, $j AS band_idx, md5(m${2 * j}||m${2 * j + 1}) AS bh FROM mh")
          .mkString(" UNION ALL ")
        s"""
        WITH $shingleSql,
        mh AS (SELECT doc_id, sh, $mins FROM sh),
        bands AS ($bandSelects),
        b2 AS (SELECT doc_id, doc_id // $BatchSize AS batch_id,
                      band_idx, bh
               FROM bands),
        hits AS (SELECT e.doc_id, e.batch_id, e.band_idx,
                        t.doc_id AS tid
                 FROM b2 e JOIN b2 t
                 ON t.band_idx = e.band_idx AND t.bh = e.bh
                    AND t.batch_id < e.batch_id)
        SELECT doc_id, batch_id,
               CAST(COUNT(DISTINCT band_idx) AS BIGINT) AS n_hit_bands,
               MIN(tid) AS first_seen
        FROM hits GROUP BY 1, 2
        """
      })
  }

  /** MinHash estimator calibration: over q51's own band-candidate
    * pairs, compare the SIGNATURE-estimated Jaccard (fraction of the 8
    * minhash components that agree — E[est] = true Jaccard) against
    * the exact shingle-set Jaccard, bucketed by exact-Jaccard decile.
    * This is the table that says whether the deployed 4-band×2-row
    * scheme is calibrated at its 0.5 threshold — the tuning evidence
    * behind q51's config, the way q101 is behind the LSH-ANN family.
    *
    * Shares [[minhashBandTable]]'s signature expression (the same
    * native MinHashSig pass) and q51's candidate generation, so the
    * calibration can never drift from the deployed scheme. All
    * statistics are integer micro-units (value*10⁶ // denominator) —
    * no float means anywhere.
    *
    * Scale shape: the q241/q266 content-group reshape — on a
    * replicated corpus EVERY band candidate is a genuine dup (27M doc
    * pairs at the ×100 fixture, 133.8s as a doc-pairwise join), but
    * jac and est depend only on the CONTENT pair, so the kernel
    * verifies each group pair once and carries the doc-pair count as
    * an integer weight (n1·n2 across groups, nd·(nd−1)/2 within a
    * multi-doc group at Jaccard = estimate = 1). The census is EXACT —
    * no sampling — at replication-invariant cost, and the ORACLE
    * deliberately stays the naive doc-pairwise formulation: two
    * independent derivations must hash-match. */
  private[graft] def calibrationPairs(docs: DataFrame): DataFrame = {
      val c = corpus(docs)
        .withColumn("nt", TextOps.norm(col("text")))
        .filter(col("nt").isNotNull)
        .select(md5(col("nt")).as("g"), col("nt"))
      // round 21: ms no longer computed inside the grp checkpoint (one
      // serial single-task pass) and the band table no longer re-plans
      // the signature tree per self-join side — ONE widened
      // minhashSigTable checkpoint serves bands AND the estimator's ms
      val grp = c.groupBy(col("g"))
        .agg(count(lit(1)).as("nd"), min(col("nt")).as("nt"))
        .withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
        .withColumn("nsh", size(col("sh")).cast(LongType))
        .drop("nt")
        .localCheckpoint()
      val sig = minhashSigTable(grp.select(col("g"), col("sh")), "g")
      val bands = sig.select(col("g"),
        posexplode(col("bands")).as(Seq("band_idx", "bh")))
      val cand = bands.alias("a")
        .join(bands.alias("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.bh") === col("b.bh") && col("a.g") < col("b.g"))
        .select(col("a.g").as("g1"), col("b.g").as("g2"))
        .distinct()
      val cross = cand
        .join(grp.select(col("g").as("g1"), col("sh").as("sh1"),
          col("nsh").as("m1"), col("nd").as("nd1")), "g1")
        .join(grp.select(col("g").as("g2"), col("sh").as("sh2"),
          col("nsh").as("m2"), col("nd").as("nd2")), "g2")
        .join(sig.select(col("g").as("g1"), col("ms").as("ms1")), "g1")
        .join(sig.select(col("g").as("g2"), col("ms").as("ms2")), "g2")
        .withColumn("inter", size(array_intersect(col("sh1"), col("sh2")))
          .cast(LongType))
        .withColumn("uni", col("m1") + col("m2") - col("inter"))
        .withColumn("m", size(filter(zip_with(col("ms1"), col("ms2"),
          (a, b) => a === b), x => x)).cast(LongType))
        .select(
          expr("(inter * 1000000) div uni").as("jac_u"),
          expr("(m * 1000000) div 8").as("est_u"),
          expr("least(9, (inter * 10) div uni)").as("bucket"),
          (col("nd1") * col("nd2")).as("n"))
      // within a multi-doc content group every pair has identical
      // shingle sets AND identical signatures: jac = est = 1 exactly;
      // nsh = 0 groups are excluded as the pairwise form's 0/0 is
      val intra = grp.filter(col("nd") > 1 && col("nsh") > 0)
        .select(lit(1000000L).as("jac_u"), lit(1000000L).as("est_u"),
          lit(9L).as("bucket"), expr("nd * (nd - 1) div 2").as("n"))
      cross.unionByName(intra)
  }

  private val q259 = Q(
    "q259_minhash_calibration",
    (s, dir) => {
      val scored = calibrationPairs(t(s, dir, "documents"))
      scored.groupBy(col("bucket"))
        .agg(sum(col("n")).cast(LongType).as("n_pairs"),
          expr("sum(jac_u * n) div sum(n)").as("mean_jac_u"),
          expr("sum(est_u * n) div sum(n)").as("mean_est_u"),
          expr("sum(abs(jac_u - est_u) * n) div sum(n)")
            .as("mean_abs_err_u"))
        .orderBy(col("bucket"))
    },
    Some {
      val mins = (0 until 8).map(i =>
        s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
      val bandSelects = (0 until 4).map(j =>
        s"SELECT doc_id, $j AS band_idx, md5(m${2 * j}||m${2 * j + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      val matches = (0 until 8).map(i =>
        s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""
      WITH $shingleSql,
      mh AS (SELECT doc_id, sh, len(sh) AS nsh, $mins FROM sh),
      bands AS ($bandSelects),
      cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
               FROM bands x JOIN bands y
               ON x.band_idx = y.band_idx AND x.bh = y.bh
                  AND x.doc_id < y.doc_id),
      scored AS (
        SELECT CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
               CAST(a.nsh + b.nsh
                 - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni,
               CAST($matches AS BIGINT) AS m
        FROM cand
        JOIN mh a ON a.doc_id = d1
        JOIN mh b ON b.doc_id = d2),
      u AS (
        SELECT (inter * 1000000) // uni AS jac_u,
               (m * 1000000) // 8 AS est_u,
               least(9, (inter * 10) // uni) AS bucket
        FROM scored)
      SELECT bucket, COUNT(*) AS n_pairs,
             CAST(SUM(jac_u) // COUNT(*) AS BIGINT) AS mean_jac_u,
             CAST(SUM(est_u) // COUNT(*) AS BIGINT) AS mean_est_u,
             CAST(SUM(abs(jac_u - est_u)) // COUNT(*) AS BIGINT)
               AS mean_abs_err_u
      FROM u GROUP BY 1 ORDER BY 1
      """
    })

  /** Streaming per-source token-quota admission gate (batch-replay
    * formulation): a document is ADMITTED iff the running token total
    * of its source — in arrival (doc_id) order, counting every
    * arriving document — is still within the source's budget. The
    * ingest-time cousin of q231 (which sorts by quality under a global
    * budget; an ingest gate cannot sort the future) and the second
    * streaming member of the pipeline family after q251: the streaming
    * form (graft.streaming.TokenQuotaProcessor, StreamTokenQuotaSpec)
    * holds ONE running Long per source and admits per document in
    * doc_id order within each micro-batch, so batch replay and stream
    * agree exactly.
    *
    * Because every arrival counts toward the running total, the gate
    * closes monotonically — once the budget line is crossed the
    * criterion fails for every later document of that source, which is
    * what makes the admitted set a plain prefix-cumsum predicate
    * instead of a sequential recurrence.
    *
    * Scale shape: the running sum is q231's exact skew shape — NEVER a
    * per-source partitioned window (20 groups, corpus-scale group
    * size); ONE [[PrefixPass.cumSumDecimal]] under the source-leading
    * total order plus a broadcast triangular offset table. */
  private val q261 = {
    val Budget = 1000L
    Q(
      "q261_stream_token_quota",
      (s, dir) => {
        val scored = t(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            size(TextOps.words(col("text"))).cast(LongType).as("n_tok"))
          .filter(col("n_tok") > 0)
          .withColumn("tok_dec", col("n_tok").cast(DecimalType(20, 0)))
        val (withCum, _) = PrefixPass.cumSumDecimal(scored,
          Seq(col("source").asc, col("doc_id").asc), "tok_dec", "gcum")
        val totals = scored.groupBy(col("source"))
          .agg(sum(col("n_tok")).as("src_tot"))
        val off = totals.alias("a")
          .join(broadcast(totals.alias("b")),
            col("b.source") < col("a.source"), "left")
          .groupBy(col("a.source").as("source"))
          .agg(coalesce(sum(col("b.src_tot")), lit(0L)).as("off"))
        withCum.join(broadcast(off), "source")
          .withColumn("admitted",
            col("gcum") - col("off") <= lit(Budget))
          .groupBy(col("source"))
          .agg(
            sum(when(col("admitted"), lit(1L)).otherwise(lit(0L)))
              .as("n_admitted"),
            sum(when(col("admitted"), lit(0L)).otherwise(lit(1L)))
              .as("n_rejected"),
            sum(when(col("admitted"), col("n_tok")).otherwise(lit(0L)))
              .cast(LongType).as("admitted_tokens"),
            min(when(!col("admitted"), col("doc_id"))).as("first_rejected"))
          .withColumn("utilization_u",
            expr(s"(admitted_tokens * 1000000) div ${Budget}L"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH toks AS (
          SELECT source, doc_id,
                 string_split(regexp_replace(trim(lower(text)),
                   '\\s+',' ','g'),' ') AS w
          FROM documents),
        scored AS (
          SELECT source, doc_id, CAST(len(w) AS BIGINT) AS n_tok
          FROM toks WHERE len(w) > 0),
        cum AS (
          SELECT source, doc_id, n_tok,
                 SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS c
          FROM scored)
        SELECT source,
               CAST(SUM(CASE WHEN c <= $Budget THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_admitted,
               CAST(SUM(CASE WHEN c <= $Budget THEN 0 ELSE 1 END)
                 AS BIGINT) AS n_rejected,
               CAST(SUM(CASE WHEN c <= $Budget THEN n_tok ELSE 0 END)
                 AS BIGINT) AS admitted_tokens,
               MIN(CASE WHEN c > $Budget THEN doc_id END)
                 AS first_rejected,
               (CAST(SUM(CASE WHEN c <= $Budget THEN n_tok ELSE 0 END)
                 AS BIGINT) * 1000000) // $Budget AS utilization_u
        FROM cum GROUP BY 1 ORDER BY 1
      """))
  }

  /** Cross-source similarity audit: which SOURCES share content —
    * the provenance question behind mixture weighting (two "distinct"
    * sources that are partial mirrors double-count their shared mass
    * in every per-source budget q218/q249/q264 hand out). Runs the
    * deployed MinHash banding over the RAW documents table (no
    * synthetic plants — this audits the actual corpus), keeps only
    * cross-source candidate pairs, verifies with exact Jaccard, and
    * rolls up to unordered source pairs: pair count, max Jaccard, and
    * mean Jaccard in integer micro-units.
    *
    * Scale shape: the q241 content-group reshape — banding, candidate
    * generation and the shingle verify all run at CONTENT-GROUP grain
    * (md5 of normalized text, which fully determines the shingle set),
    * so the cost is replication-invariant (44.0 → group-scale at ×100)
    * while the OUTPUT is the exact doc-pair census: a cross-group
    * candidate (g1,g2) contributes cnt(g1,s_a)·cnt(g2,s_b) doc pairs
    * per source pair, and a multi-source group contributes its
    * within-group cross-source products at Jaccard 1.0. The ORACLE
    * deliberately stays the naive doc-pairwise formulation — two
    * independent derivations of the same census must hash-match. */
  private val q266 = Q(
    "q266_cross_source_audit",
    (s, dir) => {
      val c = t(s, dir, "documents")
        .withColumn("nt", TextOps.norm(col("text")))
        .filter(col("nt").isNotNull)
        .select(col("source"), md5(col("nt")).as("g"), col("nt"))
        .localCheckpoint()
      val grp = c.groupBy(col("g"))
        .agg(min(col("nt")).as("nt"))
        .withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
        .withColumn("nsh", size(col("sh")).cast(LongType))
        .drop("nt")
        .localCheckpoint()
      val bySrc = c.groupBy(col("g"), col("source"))
        .agg(count(lit(1)).as("cnt"))
      val bands = minhashBandTableCk(grp.select(col("g"), col("sh")), "g")
      val cand = bands.alias("a")
        .join(bands.alias("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.bh") === col("b.bh") && col("a.g") < col("b.g"))
        .select(col("a.g").as("g1"), col("b.g").as("g2"))
        .distinct()
      val crossG = cand
        .join(grp.select(col("g").as("g1"), col("sh").as("sh1"),
          col("nsh").as("m1")), "g1")
        .join(grp.select(col("g").as("g2"), col("sh").as("sh2"),
          col("nsh").as("m2")), "g2")
        .withColumn("inter",
          size(array_intersect(col("sh1"), col("sh2"))).cast(LongType))
        .withColumn("uni", col("m1") + col("m2") - col("inter"))
        .select(col("g1"), col("g2"),
          expr("(inter * 1000000) div uni").as("jac_u"))
        .join(bySrc.select(col("g").as("g1"), col("source").as("s1"),
          col("cnt").as("c1")), "g1")
        .join(bySrc.select(col("g").as("g2"), col("source").as("s2"),
          col("cnt").as("c2")), "g2")
        .filter(col("s1") =!= col("s2"))
        .select(least(col("s1"), col("s2")).as("src_a"),
          greatest(col("s1"), col("s2")).as("src_b"),
          col("jac_u"), (col("c1") * col("c2")).as("n"))
      // a multi-source content group: every cross-source doc pair
      // inside it is an exact dup (identical shingle sets, jac 1.0);
      // nsh = 0 groups are excluded exactly as the pairwise form
      // excludes 0/0-Jaccard pairs
      val intraG = bySrc.join(grp.filter(col("nsh") > 0)
          .select(col("g")), "g")
        .alias("x")
        .join(bySrc.alias("y"),
          col("x.g") === col("y.g") && col("x.source") < col("y.source"))
        .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
          lit(1000000L).as("jac_u"),
          (col("x.cnt") * col("y.cnt")).as("n"))
      crossG.unionByName(intraG)
        .groupBy(col("src_a"), col("src_b"))
        .agg(sum(col("n")).cast(LongType).as("n_pairs"),
          max(col("jac_u")).as("max_jac_u"),
          expr("sum(jac_u * n) div sum(n)").as("mean_jac_u"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some {
      val mins = (0 until 8).map(i =>
        s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
      val bandSelects = (0 until 4).map(j =>
        s"SELECT doc_id, $j AS band_idx, md5(m${2 * j}||m${2 * j + 1}) AS bh FROM mh")
        .mkString(" UNION ALL ")
      s"""
      WITH tok AS (
        SELECT doc_id, source,
               string_split(regexp_replace(trim(lower(text)),
                 '\\s+',' ','g'),' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, source,
               list_distinct([array_to_string(w[i+1:i+5],' ')
                 FOR i IN range(len(w)-4)]) AS sh
        FROM tok),
      mh AS (SELECT doc_id, sh, $mins FROM sh),
      bands AS ($bandSelects),
      cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
               FROM bands x JOIN bands y
               ON x.band_idx = y.band_idx AND x.bh = y.bh
                  AND x.doc_id < y.doc_id),
      scored AS (
        SELECT least(a.source, b.source) AS src_a,
               greatest(a.source, b.source) AS src_b,
               (CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000)
                 // CAST(len(a.sh) + len(b.sh)
                   - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS jac_u
        FROM cand
        JOIN sh a ON a.doc_id = d1
        JOIN sh b ON b.doc_id = d2
        WHERE a.source <> b.source)
      SELECT src_a, src_b, COUNT(*) AS n_pairs,
             CAST(MAX(jac_u) AS BIGINT) AS max_jac_u,
             CAST(SUM(jac_u) // COUNT(*) AS BIGINT) AS mean_jac_u
      FROM scored GROUP BY 1, 2
      ORDER BY 1, 2
      """
    })

  /** MinHash banding-parameter sweep: candidate and true-positive
    * doc-pair mass, precision and recall at every (bands × rows)
    * split of the 8 signature components — 8×1, 4×2, 2×4, 1×8. q259
    * calibrates the ESTIMATOR; this grades the CANDIDATE GENERATOR,
    * the table that justifies shipping 4×2 (the S-curve trade: more
    * rows per band = fewer false candidates but missed true pairs).
    *
    * Ground truth = verified Jaccard ≥ 0.5 pairs among the 8×1
    * candidates: a (b,r) band matches only if its r components all
    * match, so every config's candidate set is a SUBSET of 8×1's —
    * recall is measured against the most permissive banding's
    * verified positives. Identical-text (same content group) pairs
    * are excluded: every config finds them trivially (q45's exact
    * dedup owns that class); the sweep grades NEAR-dup discovery.
    *
    * Scale shape: everything at content-group grain (the q241/q259
    * census discipline) — one signature pass, one unified
    * (cfg, band, hash) self-join, ONE verify of the 8×1 candidate
    * set, doc-pair counts as integer weights. Output: 4 rows. */
  private val q269 = {
    // (name, bands, rows): r·b = 8 components each
    val configs = Seq(("8x1", 8, 1), ("4x2", 4, 2), ("2x4", 2, 4),
      ("1x8", 1, 8))
    Q(
      "q269_banding_sweep",
      (s, dir) => {
        // round 21: ms off the widened minhashSigTable checkpoint (one
        // parallel pass) instead of a serial in-checkpoint projection
        val grp = corpus(t(s, dir, "documents"))
          .withColumn("nt", TextOps.norm(col("text")))
          .filter(col("nt").isNotNull)
          .select(md5(col("nt")).as("g"), col("nt"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("nd"), min(col("nt")).as("nt"))
          .withColumn("sh", TextOps.shingleSet(split(col("nt"), " "), 5))
          .withColumn("nsh", size(col("sh")).cast(LongType))
          .drop("nt")
          .localCheckpoint()
        val sig = minhashSigTable(grp.select(col("g"), col("sh")), "g")
        val bandCols = configs.flatMap { case (cfg, b, r) =>
          (0 until b).map { j =>
            struct(lit(cfg).as("cfg"), lit(j).as("band_idx"),
              md5(concat((0 until r).map(i =>
                element_at(col("ms"), j * r + i + 1)): _*)).as("bh"))
          }
        }
        val bands = sig.select(col("g"),
          explode(array(bandCols: _*)).as("t"))
          .select(col("g"), col("t.cfg"), col("t.band_idx"), col("t.bh"))
        val cand = bands.alias("a")
          .join(bands.alias("b"),
            col("a.cfg") === col("b.cfg") &&
              col("a.band_idx") === col("b.band_idx") &&
              col("a.bh") === col("b.bh") && col("a.g") < col("b.g"))
          .select(col("a.cfg").as("cfg"), col("a.g").as("g1"),
            col("b.g").as("g2"))
          .distinct()
          .localCheckpoint()
        // verify ONCE: 8x1's candidates are the union of every config's
        val truth = cand.filter(col("cfg") === "8x1")
          .select(col("g1"), col("g2"))
          .join(grp.select(col("g").as("g1"), col("sh").as("sh1"),
            col("nsh").as("m1"), col("nd").as("nd1")), "g1")
          .join(grp.select(col("g").as("g2"), col("sh").as("sh2"),
            col("nsh").as("m2"), col("nd").as("nd2")), "g2")
          .withColumn("inter",
            size(array_intersect(col("sh1"), col("sh2"))).cast(LongType))
          .withColumn("uni", col("m1") + col("m2") - col("inter"))
          .select(col("g1"), col("g2"),
            expr("(inter * 1000000) div uni").as("jac_u"),
            (col("nd1") * col("nd2")).as("n"))
          .localCheckpoint()
        val perCfg = cand.join(truth, Seq("g1", "g2"))
          .groupBy(col("cfg"))
          .agg(sum(col("n")).cast(LongType).as("cand_pairs"),
            sum(when(col("jac_u") >= 500000, col("n")).otherwise(lit(0L)))
              .cast(LongType).as("true_pairs"))
        val total = perCfg.filter(col("cfg") === "8x1")
          .select(col("true_pairs").as("total_true"))
        perCfg.crossJoin(broadcast(total))
          .select(col("cfg"), col("cand_pairs"), col("true_pairs"),
            expr("(true_pairs * 1000000) div cand_pairs")
              .as("precision_u"),
            expr("(true_pairs * 1000000) div total_true").as("recall_u"))
          .orderBy(col("cfg"))
      },
      Some {
        val nrm = """regexp_replace(trim(lower(text)),'\s+',' ','g')"""
        val mins = (0 until 8).map(i =>
          s"list_min([md5('$i|'||s) FOR s IN sh]) AS m$i").mkString(", ")
        val bandSelects = configs.flatMap { case (cfg, b, r) =>
          (0 until b).map { j =>
            val parts = (0 until r).map(i => s"m${j * r + i}").mkString("||")
            s"SELECT g, '$cfg' AS cfg, $j AS band_idx, md5($parts) AS bh FROM mh"
          }
        }.mkString(" UNION ALL ")
        s"""
        WITH $corpusSql,
        nt AS (SELECT doc_id, $nrm AS nt FROM corpus
               WHERE text IS NOT NULL),
        grp AS (
          SELECT md5(nt) AS g, CAST(COUNT(*) AS BIGINT) AS nd,
                 MIN(nt) AS mnt
          FROM nt GROUP BY 1),
        sh AS (
          SELECT g, nd,
                 list_distinct([array_to_string(w[i+1:i+5],' ')
                   FOR i IN range(len(w)-4)]) AS sh
          FROM (SELECT g, nd, string_split(mnt, ' ') AS w FROM grp)),
        mh AS (SELECT g, nd, sh, len(sh) AS nsh, $mins FROM sh),
        bands AS ($bandSelects),
        cand AS (SELECT DISTINCT x.cfg, x.g AS g1, y.g AS g2
                 FROM bands x JOIN bands y
                 ON x.cfg = y.cfg AND x.band_idx = y.band_idx
                    AND x.bh = y.bh AND x.g < y.g),
        truth AS (
          SELECT c.g1, c.g2,
                 (CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)
                   * 1000000)
                   // CAST(a.nsh + b.nsh
                     - len(list_intersect(a.sh, b.sh)) AS BIGINT)
                   AS jac_u,
                 a.nd * b.nd AS n
          FROM (SELECT g1, g2 FROM cand WHERE cfg = '8x1') c
          JOIN mh a ON a.g = c.g1
          JOIN mh b ON b.g = c.g2),
        percfg AS (
          SELECT cfg, CAST(SUM(n) AS BIGINT) AS cand_pairs,
                 CAST(SUM(CASE WHEN jac_u >= 500000 THEN n
                          ELSE 0 END) AS BIGINT) AS true_pairs
          FROM cand JOIN truth USING (g1, g2)
          GROUP BY 1),
        total AS (SELECT true_pairs AS total_true FROM percfg
                  WHERE cfg = '8x1')
        SELECT cfg, cand_pairs, true_pairs,
               (true_pairs * 1000000) // cand_pairs AS precision_u,
               (true_pairs * 1000000) // total_true AS recall_u
        FROM percfg, total
        ORDER BY cfg
        """
      })
  }

  /** q297 — the REPLICATION CENSUS as a first-class audit: exact
    * per-source (docs, distinct contents, replication in micro-units,
    * grain decision at the 1.5× cut) over the raw documents, plus a
    * `__corpus__` row over the planted dedup corpus — the published
    * evidence behind [[contentGrainByCensus]]'s physical-plan choice
    * (the kernel uses the approximate form of exactly this aggregate;
    * this operator is the exact, auditable version a pipeline logs
    * per ingestion source before picking shard/grain strategies).
    * On the shipped fixtures the decision visibly branches: raw
    * sources sit at ~1.0× (doc grain) while the ×100 bench corpus
    * sits at ~100× (content grain). One token-free pass per scope;
    * the aggregate is a hash count-distinct on a 32-hex key. */
  private val q297 = Q(
    "q297_replication_census",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      def censusOf(df: DataFrame,
          scope: org.apache.spark.sql.Column): DataFrame = df
        .withColumn("nt", TextOps.norm(col("text")))
        .filter(col("nt").isNotNull)
        .groupBy(scope.as("scope"))
        .agg(graft.functions.Exprs.asLong(count(lit(1))).as("n_docs"),
          graft.functions.Exprs.asLong(
            count_distinct(md5(col("nt")))).as("n_contents"))
      censusOf(docs, col("source"))
        .unionByName(censusOf(corpus(docs), lit("__corpus__")))
        .withColumn("repl_u", expr("(n_docs * 1000000) div n_contents"))
        .withColumn("content_grain", expr("n_docs * 2 >= n_contents * 3"))
        .orderBy(col("scope"))
    },
    Some(s"""
      WITH $corpusSql,
      nsrc AS (
        SELECT source AS scope, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT md5(
                 regexp_replace(trim(lower(text)),'\\s+',' ','g')))
                 AS BIGINT) AS n_contents
        FROM documents WHERE text IS NOT NULL GROUP BY 1),
      ncorp AS (
        SELECT '__corpus__' AS scope, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT md5(
                 regexp_replace(trim(lower(text)),'\\s+',' ','g')))
                 AS BIGINT) AS n_contents
        FROM corpus WHERE text IS NOT NULL)
      SELECT scope, n_docs, n_contents,
             (n_docs * 1000000) // n_contents AS repl_u,
             n_docs * 2 >= n_contents * 3 AS content_grain
      FROM (SELECT * FROM nsrc UNION ALL SELECT * FROM ncorp)
      ORDER BY scope
    """))

  val registry: Seq[Q] = Seq(q45, q46, q47, q48, q49, q50, q51, q52,
    q82, q84, q85, q99, q112, q124, q130, q133, q136, q196, q232, q235,
    q281,
    q241, q245, q247, q251, q259, q261, q266, q269, q297)
}
