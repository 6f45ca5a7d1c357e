package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.functions.TextOps

/** Round-12 wave: the BPE tokenizer TRAINING loop and its application
  * — the closed-loop text-analysis operator q176 (one pair-frequency
  * pass) previews. q242 trains a byte-pair-encoding tokenizer over
  * the documents corpus: N merge rounds, each a VOCABULARY-scale
  * aggregation (the corpus is scanned exactly once, to build the
  * word-frequency table; every subsequent round works on the distinct
  * vocabulary, which is bounded by language — at 100 TB the per-round
  * cost is a ~1e6–1e8-row vocab pass, not a corpus pass). q243
  * (and q243/q244/q246) consume the tokenizer through
  * [[trainedTokenizer]] — a persisted parquet artifact + in-JVM memo,
  * so one session trains ONCE and later JVMs load instead of
  * retraining (train-once/apply-many). q243
  * applies the learned merges to emit per-document BPE token counts —
  * the accounting production token budgets are denominated in, where
  * q216/q219/q231 count whitespace/regex tokens. q244 re-runs q216's
  * sequence packing on BPE token counts.
  *
  * Representation: a word's symbol sequence is ONE string with every
  * symbol wrapped in single spaces (" a  b  </w> "). Words are
  * whitespace-split, so symbols can never contain a space, which
  * makes the encoding unambiguous, and a merge of pair (l, r) is then
  * EXACTLY `replace(seq, " l  r ", " lr ")`: plain non-overlapping
  * left-to-right substring replacement — the same greedy semantics as
  * the reference BPE merge scan (BpeSpec proves the equivalence
  * against a symbol-by-symbol JVM mirror), available as a codegen'd
  * built-in on BOTH engines, no UDF, no per-symbol explode in the
  * hot loop. Initial symbols are CODE POINTS via
  * `regexp_extract_all(word, '(?s).')` — with (?s), Java and RE2
  * both match exactly one code point, including the line terminators
  * Java's bare `.` skips — plus a terminal "</w>" marker, so merges
  * never cross word boundaries and a merged token ending in "</w>"
  * is a full-word token.
  *
  * Determinism: each round's winning pair is argmax by
  * (count DESC, left ASC, right ASC) — count ties break
  * lexicographically on the pair, and both engines compare strings in
  * UTF-8 byte order (= code-point order), so the learned merge tables
  * are identical. All frequencies are 64-bit integers end to end.
  *
  * Scale shape: the driver loop collects ONE row per round (the
  * argmax — a TakeOrderedAndProject, per-partition top-1 then merge;
  * the q99/q135 iterative-scalar discipline). The vocab table is
  * localCheckpoint'd per round so the replace chain never deepens,
  * and AQE coalesces the small shuffle. Nothing corpus-scale happens
  * after round 0.
  */
object BpeQueries {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(Tables.tuned(s), dir, n)

  /** Merge rounds trained. Vocab-scale work per round; 20 is enough
    * to exercise multi-character tokens and full-word merges on the
    * fixture while keeping the unrolled oracle tractable. */
  private[graft] val NumMerges = 20

  /** The word-frequency table with initial wrapped symbol sequences:
    * (word, wc, seq). One corpus scan, map-side-combined count. */
  private def vocab0(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextOps.words(col("text"))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .withColumn("seq",
        concat(lit(" "),
          array_join(
            concat(regexp_extract_all(col("word"), lit("(?s)."), lit(0)),
              array(lit("</w>"))),
            "  "),
          lit(" ")))

  /** The training loop. Returns (merges in rank order — (left, right,
    * pair count at selection time) — and the final vocab frame
    * (word, wc, seq)). Exposed to q243/q244 so apply can never drift
    * from training (the q84/q235 shared-kernel discipline). */
  private[graft] def bpeTrain(docs: DataFrame, nMerges: Int)
      : (Seq[(String, String, Long)], DataFrame) = {
    var v = vocab0(docs).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (merges.length < nMerges && !done) {
      val pairs = v
        .withColumn("s", split(trim(col("seq")), "  "))
        .filter(size(col("s")) >= 2)
        .select(col("wc"),
          explode(sequence(lit(0), size(col("s")) - 2)).as("i"), col("s"))
        .select(col("wc"), col("s")(col("i")).as("l"),
          col("s")(col("i") + 1).as("r"))
        .groupBy(col("l"), col("r"))
        .agg(sum(col("wc")).as("cnt"))
      val win = pairs
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (win.isEmpty) done = true
      else {
        val (l, r, cnt) =
          (win(0).getAs[String]("l"), win(0).getAs[String]("r"),
            win(0).getAs[Long]("cnt"))
        merges += ((l, r, cnt))
        v = v.withColumn("seq",
          replace(col("seq"), lit(s" $l  $r "), lit(s" $l$r ")))
          .localCheckpoint()
      }
    }
    (merges.toSeq, v)
  }

  // -------------------------------------------------------------------
  // Train-once / apply-many (round 13): the trained tokenizer is a
  // persisted ARTIFACT, not a per-query computation. q242 ran the
  // 20-round driver loop and q243/q244/q246 each re-ran it — three
  // redundant training passes per verify/bench run, and the wrong
  // model for a production pipeline, which trains a tokenizer once and
  // applies it many times (the S8/S9 artifact discipline — Trainer's
  // model dirs, reference: spark_model_trainer.py:84-85 -> api.py:90).
  // The artifact (ranked merge table + final vocab frame) lives under
  // the session warehouse dir, keyed by a corpus fingerprint (file
  // names/sizes/mtimes of documents.parquet) and NumMerges, so a
  // regenerated fixture can never serve a stale tokenizer; an in-JVM
  // memo keyed the same way makes one verify/bench pass train exactly
  // once. The artifact holds exactly [[bpeTrain]]'s outputs, so
  // loaded-vs-trained results are identical and the oracle contract is
  // unchanged (BpeSpec pins the round-trip).
  // -------------------------------------------------------------------

  /** Memo of the driver-resident merge table, so a session collects
    * it once; the artifact itself (and its vocab thunk) is memoized by
    * [[LshIndexQueries.loadOrBuildParts]]. */
  private val mergesMemo = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(String, String, Long)]]

  /** Test hook (BpeSpec): drop the in-JVM memos so the next
    * [[trainedTokenizer]] call exercises the artifact LOAD path the
    * way a fresh JVM would. */
  private[graft] def resetMemoForTest(): Unit = {
    mergesMemo.clear()
    LshIndexQueries.resetMemoForTest()
  }

  /** Training-pass counter, observable by BpeSpec: proves the memo and
    * the artifact load path actually short-circuit training. */
  private[graft] val trainCount = new java.util.concurrent.atomic.AtomicLong

  /** Tail-content hash memo keyed by (path, length, mtime): a probe
    * whose metadata triple is unchanged reuses the hash instead of
    * re-opening the part file, keeping repeat cache-validity checks
    * metadata-only (one listStatus, zero data reads). The memo is the
    * same staleness hole the tail hash exists to close — a part
    * rewritten at equal byte length within the filesystem's mtime
    * granularity would reuse a stale hash — so files whose mtime is
    * YOUNGER than [[mtimeSettleMs]] are hashed fresh every probe and
    * only settle into the memo once their mtime can no longer be
    * ambiguous. */
  private val tailHashMemo =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val mtimeSettleMs = 5000L

  private[graft] def fingerprint(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val parts =
      if (st.isDirectory) fs.listStatus(p).toSeq.filter(_.isFile)
      else Seq(st)
    // name:length:mtime alone can collide when a fixture is regenerated
    // in place with identical part names/sizes inside the filesystem's
    // mtime granularity — add CONTENT evidence: the tail of each part
    // holds the parquet footer (schema, row-group stats, offsets),
    // which changes with the data even at equal byte length. One small
    // tail read per part on first sight of a (path, len, mtime)
    // triple; memoized thereafter.
    val sig = parts.map { f =>
      val memoKey =
        s"${f.getPath.toUri}:${f.getLen}:${f.getModificationTime}"
      def hashTail(): String = {
        val tailLen = math.min(f.getLen, 4096L).toInt
        val buf = new Array[Byte](math.max(tailLen, 0))
        if (tailLen > 0) {
          val in = fs.open(f.getPath)
          try in.readFully(f.getLen - tailLen, buf) finally in.close()
        }
        java.security.MessageDigest.getInstance("MD5")
          .digest(buf).map(b => f"$b%02x").mkString
      }
      // recently-modified parts never enter the memo: their mtime can't
      // yet distinguish a same-length rewrite
      val settled = System.currentTimeMillis() -
        f.getModificationTime >= mtimeSettleMs
      val tailMd5 =
        if (settled) tailHashMemo.getOrElseUpdate(memoKey, hashTail())
        else hashTail()
      s"${f.getPath.getName}:${f.getLen}:$tailMd5"
    }.sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  private[graft] def artifactPath(s: SparkSession, dir: String): String = {
    val wh = s.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    s"$wh/graft_bpe/n${NumMerges}_${fingerprint(s, dir)}"
  }

  /** The session's trained tokenizer for `dir`'s documents corpus:
    * the ranked merge table plus the final vocab frame, published and
    * loaded through [[LshIndexQueries.loadOrBuildParts]] (the
    * [[graft.streaming.MarkerProtocol]] publish). */
  private[graft] def trainedTokenizer(s: SparkSession, dir: String)
      : (Seq[(String, String, Long)], DataFrame) = {
    import s.implicits._
    val base = artifactPath(s, dir)
    var trained: Option[Seq[(String, String, Long)]] = None
    val parts = LshIndexQueries.loadOrBuildParts(s, base,
      Seq("merges", "vocab"), () => {
        val (merges, vf) =
          bpeTrain(Tables.load(Tables.tuned(s), dir, "documents"),
            NumMerges)
        trained = Some(merges)
        Map("merges" -> merges.zipWithIndex
            .map { case ((l, r, c), i) => (i + 1L, l, r, c) }
            .toDF("rank", "left", "right", "freq").coalesce(1),
          "vocab" -> vf)
      }, trainCount)
    val merges = mergesMemo.getOrElseUpdate(
      s"${s.sparkContext.applicationId}|$base",
      trained.getOrElse(parts("merges")().orderBy(col("rank")).collect()
        .toSeq.map(r => (r.getAs[String]("left"),
          r.getAs[String]("right"), r.getAs[Long]("freq")))))
    (merges, parts("vocab")())
  }

  /** The same words CTE both oracles start from. */
  private val wordsSql =
    """words AS (
      SELECT w AS word, COUNT(*) AS wc
      FROM (SELECT unnest(string_split(
              regexp_replace(trim(lower(text)),'\s+',' ','g'), ' ')) AS w
            FROM documents)
      WHERE length(w) >= 1 GROUP BY 1)"""

  /** The unrolled DuckDB training rounds v0..vN (+ p/w CTEs per
    * round), shared by all three oracles. Every CTE is MATERIALIZED:
    * DuckDB inlines plain CTEs, and since each round references the
    * previous one twice (directly and through its pair table), the
    * inlined plan doubles per round — 2^N scans of the corpus by
    * round N (measured: "too many open files" at N = 20).
    * Materialization makes the oracle evaluate each round once,
    * mirroring the Spark side's per-round localCheckpoint. */
  private def trainSql(n: Int): String = {
    val v0 =
      """v0 AS MATERIALIZED (
        SELECT word, wc,
               ' ' || array_to_string(
                 regexp_extract_all(word, '(?s).') || ['</w>'], '  ')
                   || ' ' AS seq
        FROM words)"""
    val rounds = (1 to n).map { k =>
      s"""w$k AS MATERIALIZED (
        SELECT l, r, CAST(cnt AS BIGINT) AS cnt
        FROM (SELECT s[i+1] AS l, s[i+2] AS r, SUM(wc) AS cnt
              FROM (SELECT wc, s, unnest(range(len(s)-1)) AS i
                    FROM (SELECT wc, string_split(trim(seq), '  ') AS s
                          FROM v${k - 1}))
              GROUP BY 1, 2)
        ORDER BY cnt DESC, l, r LIMIT 1),
      v$k AS MATERIALIZED (
        SELECT word, wc,
               CASE WHEN w.l IS NULL THEN seq
                    ELSE replace(seq, ' '||w.l||'  '||w.r||' ',
                                 ' '||w.l||w.r||' ') END AS seq
        FROM v${k - 1} LEFT JOIN w$k w ON TRUE)"""
    }
    (v0 +: rounds).mkString(",\n      ")
  }

  /** BPE tokenizer training: the learned merge table (rank order,
    * with each pair's frequency at selection time) plus the final
    * symbol vocabulary with its corpus frequency under the final
    * segmentation. A tokenizer consumer needs exactly these two
    * artifacts: the ranked merges to segment new text, the symbol
    * frequencies to size/prune the vocab. */
  private val q242 = Q(
    "q242_bpe_train",
    (s, dir) => {
      import s.implicits._
      val (merges, vf) = trainedTokenizer(s, dir)
      val mergeDf = merges.zipWithIndex.map { case ((l, r, c), i) =>
        ("merge", i + 1L, l, r, l + r, c)
      }.toDF("kind", "rank", "left", "right", "token", "freq")
        // the merge table is driver-resident BY CONSTRUCTION (one
        // collected argmax row per round); re-parallelizing 20 rows
        // is not a driver-side loop over data
      val symDf = vf
        .select(col("wc"),
          explode(split(trim(col("seq")), "  ")).as("token"))
        .groupBy(col("token"))
        .agg(sum(col("wc")).cast(LongType).as("freq"))
        .select(lit("symbol").as("kind"),
          lit(null).cast(LongType).as("rank"),
          lit(null).cast(StringType).as("left"),
          lit(null).cast(StringType).as("right"),
          col("token"), col("freq"))
      mergeDf.unionByName(symDf)
    },
    Some {
      val mergeRows = (1 to NumMerges).map { k =>
        s"""SELECT 'merge' AS kind, CAST($k AS BIGINT) AS rank,
               l AS "left", r AS "right", l||r AS token, cnt AS freq
           FROM w$k"""
      }.mkString("\n      UNION ALL\n      ")
      s"""
      WITH $wordsSql,
      ${trainSql(NumMerges)},
      symfreq AS (
        SELECT s AS token, CAST(SUM(wc) AS BIGINT) AS freq
        FROM (SELECT wc, unnest(string_split(trim(seq), '  ')) AS s
              FROM v$NumMerges)
        GROUP BY 1)
      $mergeRows
      UNION ALL
      SELECT 'symbol', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
             CAST(NULL AS VARCHAR), token, freq
      FROM symfreq
      """
    })

  /** Tokenizer APPLY + real token accounting: per-document BPE token
    * counts under the q242-trained tokenizer. Segmenting a word =
    * replaying the learned merges in rank order over its initial
    * symbol sequence — exactly the training rewrite, so apply reuses
    * [[bpeTrain]]'s final vocab frame verbatim: the token count per
    * word is already encoded in its final `seq` (each wrapped symbol
    * contributes exactly 2 spaces, so n = spaces(seq) / 2), and the
    * corpus pass is ONE explode + vocab join (Zipf-skewed — AQE's
    * skew split owns the hot words; the vocab side is
    * broadcast-sized here and AQE picks that too) + per-doc sum.
    * Docs with no tokenizable words (NULL or empty text) are kept
    * with NULL counts via the left join-back — the q237 corpus-
    * rewrite discipline: token accounting must cover the corpus. */
  private val q243 = Q(
    "q243_bpe_token_counts",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vf) = trainedTokenizer(s, dir)
      val perWord = vf.select(col("word"),
        expr("(length(seq) - length(replace(seq, ' ', ''))) div 2")
          .cast(LongType).as("n_bpe"))
      val agg = docs
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("word"))
        .filter(length(col("word")) >= 1)
        .join(perWord, "word")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_bpe")).cast(LongType).as("n_bpe_tokens"))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
    },
    Some(s"""
      WITH $wordsSql,
      ${trainSql(NumMerges)},
      perword AS (
        SELECT word,
               (length(seq) - length(replace(seq, ' ', ''))) // 2 AS n_bpe
        FROM v$NumMerges),
      tok AS (
        SELECT doc_id, unnest(string_split(
                 regexp_replace(trim(lower(text)),'\\s+',' ','g'), ' ')) AS w
        FROM documents),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens
        FROM tok JOIN perword ON w = word
        WHERE length(w) >= 1
        GROUP BY 1)
      SELECT d.doc_id, a.n_words, a.n_bpe_tokens
      FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """))

  /** q216's sequence packing re-denominated in BPE tokens: identical
    * packing semantics (2048-token windows, pack = prefix-arithmetic
    * over the exclusive running total via [[PrefixPass]], docs may
    * span boundaries), but n_tok is the q243 BPE count — the number a
    * production context-window budget is actually written in.
    * BpeSpec extends the q216 conservation check: pack token masses
    * sum exactly to q243's total. */
  private val q244 = {
    val PackTokens = 2048
    Q(
      "q244_bpe_packing",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val (_, vf) = trainedTokenizer(s, dir)
        val perWord = vf.select(col("word"),
          expr("(length(seq) - length(replace(seq, ' ', ''))) div 2")
            .cast(LongType).as("n_bpe"))
        val toks = docs
          .select(col("doc_id"),
            explode(TextOps.words(col("text"))).as("word"))
          .filter(length(col("word")) >= 1)
          .join(perWord, "word")
          .groupBy(col("doc_id"))
          .agg(sum(col("n_bpe")).cast(DecimalType(18, 0)).as("n_tok"))
        val (cum, _) = PrefixPass.cumSumDecimal(toks,
          Seq(col("doc_id").asc), "n_tok", "cum_tok")
        cum
          .filter(col("n_tok") > 0)
          .withColumn("pack_id",
            expr(s"CAST(cum_tok - n_tok AS BIGINT) div $PackTokens"))
          .groupBy(col("pack_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast(LongType).as("n_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
      },
      Some(s"""
        WITH $wordsSql,
        ${trainSql(NumMerges)},
        perword AS (
          SELECT word,
                 (length(seq) - length(replace(seq, ' ', ''))) // 2 AS n_bpe
          FROM v$NumMerges),
        tok AS (
          SELECT doc_id, unnest(string_split(
                   regexp_replace(trim(lower(text)),'\\s+',' ','g'), ' ')) AS w
          FROM documents),
        toks AS (
          SELECT doc_id, SUM(n_bpe) AS n_tok
          FROM tok JOIN perword ON w = word
          WHERE length(w) >= 1
          GROUP BY 1),
        cum AS (
          SELECT doc_id, n_tok,
                 SUM(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tok
          FROM toks)
        SELECT CAST((cum_tok - n_tok) // $PackTokens AS BIGINT) AS pack_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM cum WHERE n_tok > 0 GROUP BY 1
      """))
  }

  /** Tokenizer ECONOMICS per source — the two numbers a tokenizer
    * team tracks when deciding whether a vocab serves a corpus slice:
    * compression (code-point chars per BPE token) and fertility (BPE
    * tokens per whitespace word), per `source`, under the q242-trained
    * tokenizer. A slice whose fertility is high relative to the rest
    * of the corpus is under-served by the learned merges (its words
    * shatter into characters) — the standard signal for re-weighting
    * tokenizer training data. Ratios are exact integer micro-units
    * (the q238 discipline: (a div b)·10⁶ + ((a mod b)·10⁶) div b —
    * no doubles, so the oracle hash is exact and the intermediate
    * never exceeds max(a, b·10⁶)). Char counts are code points on
    * both engines (Spark `length` on strings vs DuckDB `length`).
    * Scale shape: q243's corpus pass with `source` carried through —
    * one explode + broadcast-sized vocab join + a per-source
    * map-side-combined aggregate; nothing new is corpus-scale. */
  private val q246 = Q(
    "q246_bpe_compression",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, vf) = trainedTokenizer(s, dir)
      val perWord = vf.select(col("word"),
        expr("(length(seq) - length(replace(seq, ' ', ''))) div 2")
          .cast(LongType).as("n_bpe"))
      docs
        .select(col("source"),
          explode(TextOps.words(col("text"))).as("word"))
        .filter(length(col("word")) >= 1)
        .join(perWord, "word")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("word"))).cast(LongType).as("n_chars"),
          sum(col("n_bpe")).cast(LongType).as("n_bpe_tokens"))
        .selectExpr("source", "n_words", "n_chars", "n_bpe_tokens",
          """CAST((n_chars div n_bpe_tokens) * 1000000L
             + ((n_chars % n_bpe_tokens) * 1000000L) div n_bpe_tokens
             AS LONG) AS chars_per_tok_micro""",
          """CAST((n_bpe_tokens div n_words) * 1000000L
             + ((n_bpe_tokens % n_words) * 1000000L) div n_words
             AS LONG) AS toks_per_word_micro""")
    },
    Some(s"""
      WITH $wordsSql,
      ${trainSql(NumMerges)},
      perword AS (
        SELECT word,
               (length(seq) - length(replace(seq, ' ', ''))) // 2 AS n_bpe
        FROM v$NumMerges),
      tok AS (
        SELECT source, unnest(string_split(
                 regexp_replace(trim(lower(text)),'\\s+',' ','g'), ' ')) AS w
        FROM documents),
      agg AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(length(w)) AS BIGINT) AS n_chars,
               CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens
        FROM tok JOIN perword ON w = word
        WHERE length(w) >= 1
        GROUP BY 1)
      SELECT source, n_words, n_chars, n_bpe_tokens,
             CAST((n_chars // n_bpe_tokens) * 1000000
                  + ((n_chars % n_bpe_tokens) * 1000000) // n_bpe_tokens
                  AS BIGINT) AS chars_per_tok_micro,
             CAST((n_bpe_tokens // n_words) * 1000000
                  + ((n_bpe_tokens % n_words) * 1000000) // n_words
                  AS BIGINT) AS toks_per_word_micro
      FROM agg
    """))

  /** Fertility-driven mixture REWEIGHTING — the decision q246's
    * numbers drive (VERDICT r12 #6): compose q218's temperature
    * weights with q246's per-source fertility so the per-epoch budget
    * equalizes BPE-TOKEN cost across sources instead of document
    * cost. A source whose words shatter into many BPE tokens
    * (fertility ≫ 1) burns more of a token-denominated budget per
    * sampled document, so its sampling weight is divided by its
    * fertility: adj_w = (w · 10⁶) div fert_micro with w = q218's
    * floor(sqrt(n_docs·10¹²)), then the 1 000 000-sample budget is
    * re-apportioned by largest remainder (whole allocations summing
    * EXACTLY to the budget — the q218/q165 proration discipline,
    * conservation pinned in TrainingSetSpec).
    *
    * Exactness: pure integer algebra over two green queries' numbers
    * (the q238 micro-unit discipline). Overflow bounds: fert_micro ≥
    * 10⁶ (every word is ≥ 1 BPE token), so adj_w ≤ w ≤ 10¹² at
    * n_docs ≤ 10¹², and Budget·adj_w ≤ 10¹⁸ < 2⁶³. Sources with no
    * tokenizable words have no fertility and are excluded (q246
    * absence semantics). Scale shape: q243's corpus pass + one
    * group-count, then |sources|-row algebra (the whitelisted
    * dimension-bounded global window — same proof as q218). */
  private val q249 = {
    val Budget = 1000000L
    Q(
      "q249_fertility_reweighting",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
        val (_, vf) = trainedTokenizer(s, dir)
        val perWord = vf.select(col("word"),
          expr("(length(seq) - length(replace(seq, ' ', ''))) div 2")
            .cast(LongType).as("n_bpe"))
        val perSource = docs
          .select(col("source"),
            explode(TextOps.words(col("text"))).as("word"))
          .filter(length(col("word")) >= 1)
          .join(perWord, "word")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_bpe")).cast(LongType).as("n_bpe_tokens"))
        val counts = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w",
            floor(sqrt(col("n_docs").cast(DoubleType) * lit(1e12)))
              .cast(LongType))
        val all = Window.partitionBy()
        val rk = Window.partitionBy()
          .orderBy(col("rem").desc, col("source").asc)
        counts.join(perSource, "source")
          .withColumn("fert_micro",
            expr("""(n_bpe_tokens div n_words) * 1000000L
                 + ((n_bpe_tokens % n_words) * 1000000L) div n_words"""))
          .withColumn("adj_w", expr("(w * 1000000L) div fert_micro"))
          .withColumn("tot_w", sum(col("adj_w")).over(all))
          .withColumn("floor_alloc", expr(s"($Budget * adj_w) div tot_w"))
          .withColumn("rem", expr(s"($Budget * adj_w) % tot_w"))
          .withColumn("deficit",
            lit(Budget) - sum(col("floor_alloc")).over(all))
          .withColumn("rk", row_number().over(rk).cast(LongType))
          .select(col("source"), col("n_docs"), col("fert_micro"),
            col("adj_w"),
            (col("floor_alloc") +
              when(col("rk") <= col("deficit"), 1L).otherwise(0L))
              .as("alloc"))
      },
      Some(s"""
        WITH $wordsSql,
        ${trainSql(NumMerges)},
        perword AS (
          SELECT word,
                 (length(seq) - length(replace(seq, ' ', ''))) // 2 AS n_bpe
          FROM v$NumMerges),
        tok AS (
          SELECT source, unnest(string_split(
                   regexp_replace(trim(lower(text)),'\\s+',' ','g'), ' ')) AS w
          FROM documents),
        agg AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
                 CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens
          FROM tok JOIN perword ON w = word
          WHERE length(w) >= 1
          GROUP BY 1),
        c AS (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE) * 1e12)) AS BIGINT)
                   AS tw
          FROM documents GROUP BY 1),
        a AS (
          SELECT c.source, n_docs,
                 CAST((n_bpe_tokens // n_words) * 1000000
                      + ((n_bpe_tokens % n_words) * 1000000) // n_words
                      AS BIGINT) AS fert_micro,
                 tw
          FROM c JOIN agg ON agg.source = c.source),
        aw AS (
          SELECT source, n_docs, fert_micro,
                 CAST((tw * 1000000) // fert_micro AS BIGINT) AS adj_w
          FROM a),
        g AS (
          SELECT *, SUM(adj_w) OVER () AS tot_w,
                 ($Budget * adj_w) // SUM(adj_w) OVER () AS floor_alloc,
                 ($Budget * adj_w) % SUM(adj_w) OVER () AS rem
          FROM aw),
        r AS (
          SELECT *, $Budget - SUM(floor_alloc) OVER () AS deficit,
                 ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
          FROM g)
        SELECT source, n_docs, fert_micro, adj_w,
               CAST(floor_alloc + CASE WHEN rk <= deficit THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc
        FROM r
      """))
  }

  val registry: Seq[Q] = Seq(q242, q243, q244, q246, q249)
}
