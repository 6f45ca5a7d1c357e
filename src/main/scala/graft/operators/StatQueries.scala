package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.functions.Exprs.{asLong, dec2}

/** Round-6 wave: tokenizer-training and robust-statistics operators plus
  * the two classic correlated-subquery shapes (TPC-H Q21 / Q16) that
  * exercise Catalyst's subquery decorrelation. The reference has none of
  * these surfaces (its only aggregation is a group-count,
  * spark_model_trainer.py:151-156); they are engine extensions a
  * warehouse/pipeline deployment expects.
  *
  * Exactness discipline matches the rest of the registry: money in
  * DECIMAL(18,2), integer outputs pinned to BIGINT, double division only
  * on operands both engines derive identically (exact decimal or integer
  * inputs), round-then-DECIMAL before any cross-row double sum.
  */
object StatQueries {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(Tables.tuned(s), dir, n)

  /** One BPE merge iteration's statistics pass: adjacent symbol-pair
    * frequencies over the corpus, weighted by word frequency. Two
    * map-side-combined aggregations: corpus -> word counts (the only
    * shuffle that scales with data volume), then pairs generated from
    * the DISTINCT VOCABULARY (bounded by vocab size, not corpus size —
    * at 100 TB the second stage's input is the ~1e6-row word table, so
    * each extra BPE iteration costs a vocabulary scan, not a corpus
    * scan). Top-20 by (freq, pair) via TakeOrderedAndProject.
    */
  private val q176 = Q(
    "q176_bpe_pairs",
    (s, dir) => {
      // CONTENT-GROUP grain (round-18): per-word counts are a pure
      // function of the raw text, so the regexp + explode runs once
      // per DISTINCT text and global counts weight each content's
      // counts by its replica count — exact integers, identical
      // totals, ~replication× less explode volume.
      val base = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(md5(col("text")).as("th"), col("text"))
      val reps = base.groupBy(col("th")).agg(count(lit(1)).as("n"))
      val grpWords = base
        .repartition(col("th"))
        .groupBy(col("th")).agg(min(col("text")).as("text"))
        .select(col("th"), explode(split(
          regexp_replace(col("text"), "[^A-Za-z ]+", " "), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("th"), lower(col("w")).as("word"))
        .agg(count(lit(1)).as("wcc"))
      val words = grpWords.join(reps, "th")
        .groupBy(col("word"))
        .agg(sum(col("wcc") * col("n")).as("wc"))
      words
        .select(col("wc"), explode(expr(
          "transform(sequence(1, length(word) - 1)," +
            " i -> substring(word, i, 2))")).as("pair"))
        .groupBy(col("pair"))
        .agg(asLong(sum(col("wc"))).as("freq"))
        .orderBy(col("freq").desc, col("pair").asc)
        .limit(20)
    },
    Some("""
      WITH words AS (
        SELECT lower(w) AS word, COUNT(*) AS wc
        FROM documents,
             unnest(string_split(
               regexp_replace(text, '[^A-Za-z ]+', ' ', 'g'), ' ')) AS t(w)
        WHERE length(w) >= 2
        GROUP BY 1),
      pos AS (
        SELECT word, wc, unnest(range(1, length(word))) AS i FROM words),
      pairs AS (
        SELECT substr(word, CAST(i AS INT), 2) AS pair,
               CAST(SUM(wc) AS BIGINT) AS freq
        FROM pos GROUP BY 1)
      SELECT pair, freq FROM pairs
      ORDER BY freq DESC, pair LIMIT 20
    """))

  /** Gaps-and-islands: consecutive-active-day streaks per user, reported
    * as a streak-length histogram. The classic ROW_NUMBER trick — a
    * day's group key is `day - row_number` (constant within a
    * consecutive run) — turns streak detection into two hash
    * aggregations and ONE user-keyed sort window; no self-join, no
    * per-user driver loop. Scales as a single shuffle on user_id.
    */
  private val q177 = Q(
    "q177_event_streaks",
    (s, dir) => {
      val days = t(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val rn = row_number()
        .over(Window.partitionBy(col("user_id")).orderBy(col("day")))
      val streaks = days
        .withColumn("grp", date_sub(col("day"), rn.cast(IntegerType)))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("streak_len"))
      streaks
        .groupBy(asLong(col("streak_len")).as("streak_len"))
        .agg(
          asLong(count(lit(1))).as("n_islands"),
          asLong(countDistinct(col("user_id"))).as("n_users"))
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE user_id IS NOT NULL),
      isl AS (
        SELECT user_id,
               day - CAST(ROW_NUMBER() OVER (
                 PARTITION BY user_id ORDER BY day) AS INT) AS grp
        FROM days),
      st AS (
        SELECT user_id, grp, COUNT(*) AS streak_len
        FROM isl GROUP BY 1, 2)
      SELECT CAST(streak_len AS BIGINT) AS streak_len,
             CAST(COUNT(*) AS BIGINT) AS n_islands,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM st GROUP BY 1
    """))

  /** ABC / Pareto classification: parts ranked by exact-decimal revenue,
    * classified A (first 80% of cumulative revenue), B (to 95%), C
    * (tail). The fact table reduces to per-part revenue first (one
    * map-side-combined shuffle); but the part dimension itself grows
    * linearly with SF (~20B parts at 100 TB), so the global cumulative
    * sum runs as [[PrefixPass.cumSumDecimal]] — a range-partitioned
    * distributed sort plus per-partition partials with broadcast
    * offsets — NOT a single-partition `Window.orderBy` (one task
    * sorting the whole dimension). BigDecimal accumulation keeps the
    * cumsum bit-identical to the window formulation the oracle uses.
    * Class boundaries compare DECIMAL against DECIMAL*DECIMAL(3,2) —
    * exact on both engines, no double drift at the 80%/95% cuts.
    */
  private val q178 = Q(
    "q178_abc_classes",
    (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(dec2(col("l_extendedprice")) *
          (lit(1) - dec2(col("l_discount")))).as("rev"))
      val (cum, tot) = PrefixPass.cumSumDecimal(rev,
        Seq(col("rev").desc, col("l_partkey").asc), "rev", "cum")
      cum
        .withColumn("tot", lit(tot))
        .withColumn("abc_class",
          when(col("cum") <= col("tot") * lit(BigDecimal("0.80")), "A")
            .when(col("cum") <= col("tot") * lit(BigDecimal("0.95")), "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(
          asLong(count(lit(1))).as("n_parts"),
          sum(col("rev")).cast(DoubleType).as("class_revenue"))
    },
    Some("""
      WITH rev AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                   (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        FROM lineitem GROUP BY 1),
      cum AS (
        SELECT l_partkey, rev,
               SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(rev) OVER () AS tot
        FROM rev)
      SELECT CASE WHEN cum <= tot * 0.80 THEN 'A'
                  WHEN cum <= tot * 0.95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(SUM(rev) AS DOUBLE) AS class_revenue
      FROM cum GROUP BY 1
    """))

  /** Chi-square independence test over the event_type x day-of-month
    * contingency table — the data-profiling primitive behind "is this
    * dimension correlated with time" drift checks. Observed counts are
    * one hash aggregation; row/column/grand totals are three window
    * passes over the CELL table (|types| x |days| rows — tiny at any
    * fact scale). Expected counts and per-cell contributions are double
    * math on integer-derived operands (identical on both engines);
    * contributions round to 6dp and sum in DECIMAL so the final chi2
    * is partition-order independent.
    */
  private val q179 = Q(
    "q179_chisq_contingency",
    (s, dir) => {
      val cells = t(s, dir, "events")
        .groupBy(col("event_type"), dayofmonth(col("ts")).as("d"))
        .agg(count(lit(1)).as("o"))
      val e = (col("rt") * col("ct")).cast(DoubleType) / col("gt")
      val dev = col("o").cast(DoubleType) - col("e")
      cells
        .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("event_type"))))
        .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("d"))))
        .withColumn("gt", sum(col("o")).over(Window.partitionBy()))
        .withColumn("e", e)
        .withColumn("contrib",
          round(dev * dev / col("e"), 6).cast(DecimalType(18, 6)))
        .agg(
          sum(col("contrib")).cast(DoubleType).as("chi2"),
          ((countDistinct(col("event_type")) - 1) *
            (countDistinct(col("d")) - 1)).cast(LongType).as("dof"),
          asLong(count(lit(1))).as("n_cells"))
    },
    Some("""
      WITH cells AS (
        SELECT event_type, day(ts) AS d, COUNT(*) AS o
        FROM events GROUP BY 1, 2),
      en AS (
        SELECT event_type, d, o,
               SUM(o) OVER (PARTITION BY event_type) AS rt,
               SUM(o) OVER (PARTITION BY d) AS ct,
               SUM(o) OVER () AS gt
        FROM cells),
      c2 AS (
        SELECT event_type, d,
               CAST(ROUND(
                 (CAST(o AS DOUBLE) - CAST(rt*ct AS DOUBLE)/gt) *
                 (CAST(o AS DOUBLE) - CAST(rt*ct AS DOUBLE)/gt) /
                 (CAST(rt*ct AS DOUBLE)/gt), 6) AS DECIMAL(18,6)) AS contrib
        FROM en)
      SELECT CAST(SUM(contrib) AS DOUBLE) AS chi2,
             CAST((COUNT(DISTINCT event_type) - 1) *
                  (COUNT(DISTINCT d) - 1) AS BIGINT) AS dof,
             CAST(COUNT(*) AS BIGINT) AS n_cells
      FROM c2
    """))

  /** Weighted median in exact integer space: per return flag, the
    * smallest price (in cents) whose cumulative quantity-weight reaches
    * half the total weight; the 2*cum >= total test is BIGINT-exact.
    *
    * Computed bin-then-refine, the scalable exact-quantile shape: the
    * price domain buckets into $10k bins, a TINY per-(flag,bin) weight
    * table locates the bin containing the median (plus the exact
    * cumulative weight before it), and only THAT bin's prices — ~1/100
    * of the domain — go through the sorted cumulative window. Prices
    * are near-unique here (583k distinct of 600k rows at sf0.1), so
    * the naive single window sorts the whole domain per flag; the
    * refine step is the difference between sorting everything and
    * sorting one bucket, and at 100 TB between an impossible
    * single-partition sort and a small one. The ORACLE computes the
    * naive single-window formulation — the hash match is the proof
    * that bin-then-refine is exact, not approximate.
    */
  private val q180 = Q(
    "q180_weighted_median",
    (s, dir) => {
      val byPrice = t(s, dir, "lineitem")
        .select(
          col("l_returnflag").as("flag"),
          (dec2(col("l_extendedprice")) * 100).cast(LongType).as("cents"),
          col("l_quantity").cast(LongType).as("w"))
        .groupBy(col("flag"), col("cents"))
        .agg(sum(col("w")).as("w"))
        .withColumn("bin", expr("cents div 1000000"))
        // both the bin-locate branch and the refine probe read this
        // relation; materialize the fact-scale aggregation once
        // instead of re-scanning lineitem per branch (q113 pattern)
        .localCheckpoint()
      val binCum = byPrice
        .groupBy(col("flag"), col("bin"))
        .agg(sum(col("w")).as("bw"))
        .withColumn("cumw", sum(col("bw")).over(
          Window.partitionBy(col("flag")).orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tw",
          sum(col("bw")).over(Window.partitionBy(col("flag"))))
      val medianBin = binCum
        .filter(col("cumw") * 2 >= col("tw"))
        .groupBy(col("flag"))
        .agg(min(col("bin")).as("mbin"))
      val binInfo = binCum.as("c")
        .join(medianBin.as("m"),
          col("c.flag") === col("m.flag") && col("c.bin") === col("m.mbin"))
        .select(col("c.flag").as("mflag"), col("m.mbin").as("mbin2"),
          (col("c.cumw") - col("c.bw")).as("prev_cum"),
          col("c.tw").as("mtw"))
      byPrice
        .join(broadcast(binInfo),
          col("flag") === col("mflag") && col("bin") === col("mbin2"))
        .withColumn("cw_in", sum(col("w")).over(
          Window.partitionBy(col("flag")).orderBy(col("cents"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter((col("prev_cum") + col("cw_in")) * 2 >= col("mtw"))
        .groupBy(col("flag"))
        .agg(
          asLong(min(col("cents"))).as("wmedian_cents"),
          asLong(max(col("mtw"))).as("total_weight"))
    },
    Some("""
      WITH byprice AS (
        SELECT l_returnflag AS flag,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS cents,
               SUM(CAST(l_quantity AS BIGINT)) AS w
        FROM lineitem GROUP BY 1, 2),
      cum AS (
        SELECT flag, cents, w,
               SUM(w) OVER (PARTITION BY flag ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               SUM(w) OVER (PARTITION BY flag) AS tw
        FROM byprice)
      SELECT flag,
             CAST(MIN(cents) AS BIGINT) AS wmedian_cents,
             CAST(MAX(tw) AS BIGINT) AS total_weight
      FROM cum WHERE cw * 2 >= tw GROUP BY flag
    """))

  /** Share-of-parent in the region -> nation hierarchy: each nation's
    * exact-decimal revenue as a fraction of its region's. The fact
    * table joins only BROADCAST dimension chains (supplier -> nation ->
    * region — same build-side collapse as q169), aggregates once, and
    * the parent total is a window over the ~25-row nation result. The
    * share division runs on doubles both engines derive from identical
    * decimals, so it is bit-identical without rounding.
    */
  private val q181 = Q(
    "q181_share_of_parent",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey"),
        (dec2(col("l_extendedprice")) *
          (lit(1) - dec2(col("l_discount")))).as("rev"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      li
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("rev")).as("nrev"))
        .withColumn("rrev",
          sum(col("nrev")).over(Window.partitionBy(col("r_name"))))
        .select(
          col("r_name"), col("n_name"),
          col("nrev").cast(DoubleType).as("revenue"),
          (col("nrev").cast(DoubleType) / col("rrev").cast(DoubleType))
            .as("share_of_region"))
    },
    Some("""
      WITH nrev AS (
        SELECT r_name, n_name,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                   (1 - CAST(l_discount AS DECIMAL(18,2)))) AS nrev
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY 1, 2)
      SELECT r_name, n_name,
             CAST(nrev AS DOUBLE) AS revenue,
             CAST(nrev AS DOUBLE) /
               CAST(SUM(nrev) OVER (PARTITION BY r_name) AS DOUBLE)
               AS share_of_region
      FROM nrev
    """))

  /** RFM segmentation: per-customer recency / frequency / monetary
    * scores via NTILE(5) with fully deterministic tie-breaks (custkey),
    * reported as segment sizes. The orders fact reduces to the customer
    * dimension first — but the customer dimension itself grows with SF
    * (~20B customers at 100 TB), so the three global NTILE windows are
    * computed as [[PrefixPass.withRowNumber]] passes (distributed
    * range-partitioned sorts + broadcast prefix counts) with the
    * NTILE bucket derived from the global row number by the standard
    * first-(n mod k)-buckets-get-ceil(n/k) rule — no single-partition
    * window anywhere. The recency ordering needs no anchor at all:
    * `datediff(MAX(last_order) OVER (), last_order) ASC` is exactly
    * `last_order DESC` (the anchor is a rank-invariant constant
    * shift), so the oracle keeps the anchor formulation while the
    * engine sorts directly — identical buckets, one less global pass.
    */
  private val q182 = Q(
    "q182_rfm_segments",
    (s, dir) => {
      // one eager materialization of the per-customer base feeds all
      // three passes (localCheckpoint: a single job, flat lineage)
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          max(to_date(col("o_orderdate"))).as("last_order"),
          count(lit(1)).as("freq"),
          sum(dec2(col("o_totalprice"))).as("mon"))
        .localCheckpoint()
      // The three orderings are independent of each other, so the
      // three row-number passes run CONCURRENTLY over the same
      // materialized base (round-7 shape chained them serially, each
      // pass re-range-shuffling the previous pass's widened output —
      // measured 3.9s at sf0.1; three narrow parallel passes joined
      // back on the key cut that to the slowest single pass). Each
      // pass output is just (o_custkey, rn); the equi-joins back are
      // customer-dimension-sized and AQE picks their strategy.
      val ((pr, n), (pf, _), (pm, _)) = Overlap.scope { o =>
        def pass(order: Seq[Column], rn: String) = o.fork {
          val (d, n) = PrefixPass.withRowNumber(perCust, order, rn)
          (d.select(col("o_custkey"), col(rn)), n)
        }
        val fr = pass(Seq(col("last_order").desc, col("o_custkey").asc), "rn_r")
        val ff = pass(Seq(col("freq").desc, col("o_custkey").asc), "rn_f")
        val fm = pass(Seq(col("mon").desc, col("o_custkey").asc), "rn_m")
        (fr.join, ff.join, fm.join)
      }
      // NTILE(5) from the 1-based global row number over the n
      // (driver-known) customers — the shared PrefixPass formula
      def nt(rn: String): Column = PrefixPass.ntileExpr(rn, s"${n}L", 5)
      perCust
        .join(pr, "o_custkey").join(pf, "o_custkey").join(pm, "o_custkey")
        .select(col("o_custkey"), col("mon"),
          concat(nt("rn_r").cast(StringType), nt("rn_f").cast(StringType),
            nt("rn_m").cast(StringType))
            .as("segment"))
        .groupBy(col("segment"))
        .agg(
          asLong(count(lit(1))).as("n_customers"),
          (sum(col("mon")).cast(DoubleType) / count(lit(1)))
            .as("avg_monetary"))
    },
    Some("""
      WITH percust AS (
        SELECT o_custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_order,
               COUNT(*) AS freq,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
        FROM orders GROUP BY 1),
      anch AS (
        SELECT *, MAX(last_order) OVER () AS anchor FROM percust),
      scored AS (
        SELECT o_custkey, mon,
               NTILE(5) OVER (ORDER BY
                 date_diff('day', last_order, anchor), o_custkey) AS r,
               NTILE(5) OVER (ORDER BY freq DESC, o_custkey) AS f,
               NTILE(5) OVER (ORDER BY mon DESC, o_custkey) AS m
        FROM anch)
      SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
               AS segment,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(mon) AS DOUBLE) / COUNT(*) AS avg_monetary
      FROM scored GROUP BY 1
    """))

  /** TPC-H Q21's correlated-subquery shape: suppliers who were the SOLE
    * late shipper on multi-supplier finished orders — one EXISTS and one
    * NOT EXISTS, both correlated with a non-equality predicate
    * (l2.l_suppkey <> l1.l_suppkey). Issued through spark.sql so
    * Catalyst's RewritePredicateSubquery turns them into a left-semi
    * and a left-anti join on l_orderkey (the decorrelation surface the
    * DataFrame half of the registry can't reach). The late flag is
    * computed once in a shared derived view, keeping the correlation
    * equality-joinable and the day arithmetic engine-exact.
    *
    * The derived view is MATERIALIZED (localCheckpoint) before the
    * subquery SQL runs: the view is referenced three times (l1, the
    * EXISTS semi, the NOT EXISTS anti) and Spark plans each reference
    * as its own subtree, so the lineage form re-ran the corpus-scale
    * lineitem⋈orders join 3× per execution — measured 12–15 s vs
    * ~8 s at ×100, and a 3× amplifier on ambient scan pressure (the
    * round-18 10.1/22.6/35.7 s cross-sweep spread; SCALE.md, "Round-19
    * spread hunt"). The checkpoint is 3 slim columns; Catalyst
    * still does the decorrelation — that surface is the point of the
    * query. */
  private val q183 = Q(
    "q183_multi_exists",
    (s, dir) => {
      Tables.tuned(s)
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderstatus") === "F")
        .select(
          col("l_orderkey"), col("l_suppkey"),
          (datediff(col("l_shipdate"), col("o_orderdate")) > 60)
            .cast(IntegerType).as("late"))
        .localCheckpoint()
        .createOrReplaceTempView("graft_q183_li")
      t(s, dir, "supplier").createOrReplaceTempView("graft_q183_supplier")
      s.sql("""
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM graft_q183_supplier
        JOIN graft_q183_li l1 ON s_suppkey = l1.l_suppkey
        WHERE l1.late = 1
          AND EXISTS (
            SELECT 1 FROM graft_q183_li l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM graft_q183_li l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.late = 1)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10
      """)
    },
    Some("""
      WITH li AS (
        SELECT l_orderkey, l_suppkey,
               CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                   CAST(l_shipdate AS DATE)) > 60
                    THEN 1 ELSE 0 END AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F')
      SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM supplier JOIN li l1 ON s_suppkey = l1.l_suppkey
      WHERE l1.late = 1
        AND EXISTS (
          SELECT 1 FROM li l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM li l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.late = 1)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 10
    """))

  /** TPC-H Q16's NOT IN shape: distinct supplier counts per (brand,
    * size) excluding a subquery-defined supplier blocklist. The NOT IN
    * rewrites to a null-aware anti join (s_suppkey is non-null, so it
    * degenerates to a plain broadcast anti join against the 6-row
    * blocklist); part is the broadcast build side; COUNT(DISTINCT)
    * expands map-side. Same SQL text runs on both engines.
    */
  private val q184 = Q(
    "q184_notin_distinct",
    (s, dir) => {
      Tables.tuned(s)
      t(s, dir, "lineitem").createOrReplaceTempView("graft_q184_lineitem")
      t(s, dir, "part").createOrReplaceTempView("graft_q184_part")
      t(s, dir, "supplier").createOrReplaceTempView("graft_q184_supplier")
      s.sql("""
        SELECT p_brand, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM graft_q184_lineitem
        JOIN graft_q184_part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#13'
          AND p_size IN (1, 7, 14, 23, 36, 45)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM graft_q184_supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_size
        LIMIT 25
      """)
    },
    Some("""
      SELECT p_brand, p_size,
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#13'
        AND p_size IN (1, 7, 14, 23, 36, 45)
        AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_size
      LIMIT 25
    """))

  /** Multiplicity-preserving set operations: EXCEPT ALL keeps
    * max(nA−nB, 0) copies per value, INTERSECT ALL keeps min(nA, nB) —
    * the bag semantics the DISTINCT variants (q18/q19) can't express.
    * Spark rewrites both to a tagged union + count aggregate (one
    * shuffle on the value, no join); the output reports the surviving
    * multiplicity per key so the oracle checks the copy COUNTS, not
    * just membership.
    */
  private val q193 = Q(
    "q193_set_ops_all",
    (s, dir) => {
      // both relations feed BOTH native set operators — materialize
      // the narrow tagged projection once so the fact is scanned once
      // (each un-checkpointed side was re-scanned per operator: 4
      // source scans, round-6 plan audit). Round 15 heap hardening:
      // persist() keeps the 60M-row ×100 projection as compressed
      // COLUMNAR batches (~5x smaller than the old localCheckpoint's
      // deserialized rows, which pinned the whole unified pool and
      // OOMed the 4g margin probe), and the explicit wide
      // repartition on pkey makes every set-op aggregate downstream
      // run on slim per-key slices instead of building
      // full-fact-partition hash maps in all 32 tasks at once
      val liScan = t(s, dir, "lineitem")
      val base = liScan
        .select(col("l_partkey").as("pkey"),
          (col("l_quantity") > 25.0).as("hi"))
        // width from the measured fact size (memoized cheap
        // columnless scan — see Tables.rowCount)
        .repartition(
          graft.operators.ShufflePlan.dedupParts(liScan,
            graft.Tables.rowCount(s, dir, "lineitem")),
          col("pkey"))
        .persist()
      val a = base.filter(col("hi")).select(col("pkey"))
      val b = base.filter(!col("hi")).select(col("pkey"))
      val ea = a.exceptAll(b).groupBy(col("pkey"))
        .agg(asLong(count(lit(1))).as("cnt"))
        .withColumn("op", lit("except_all"))
      val ia = a.intersectAll(b).groupBy(col("pkey"))
        .agg(asLong(count(lit(1))).as("cnt"))
        .withColumn("op", lit("intersect_all"))
      ea.unionByName(ia).select(col("op"), col("pkey"), col("cnt"))
    },
    Some("""
      WITH a AS (SELECT l_partkey AS pkey FROM lineitem
                 WHERE l_quantity > 25.0),
      b AS (SELECT l_partkey AS pkey FROM lineitem
            WHERE l_quantity <= 25.0),
      ea AS (SELECT pkey FROM a EXCEPT ALL SELECT pkey FROM b),
      ia AS (SELECT pkey FROM a INTERSECT ALL SELECT pkey FROM b)
      SELECT 'except_all' AS op, pkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ea GROUP BY 2
      UNION ALL
      SELECT 'intersect_all' AS op, pkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ia GROUP BY 2
    """))

  val registry: Seq[Q] = Seq(q176, q177, q178, q179, q180, q181, q182,
    q183, q184, q193)
}
