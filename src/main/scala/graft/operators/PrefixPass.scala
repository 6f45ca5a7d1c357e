package graft.operators

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{DecimalType, LongType, StructField,
  StructType}

/** Two-phase distributed prefix passes — the scale-safe replacement for
  * unpartitioned windows (`Window.orderBy(...)` with no partitionBy),
  * which Spark plans as a SinglePartition exchange + one task sorting
  * and scanning the ENTIRE input. That shape is admissible only for
  * constant-bounded inputs; over anything that grows with the fact
  * table (per-part revenue, per-customer RFM rows) it is the classic
  * scale-killer.
  *
  * The two-phase shape used here instead:
  *   1. range-partition on the total-order key + sort within partitions
  *      (a normal distributed sort — N tasks, no single-partition stage);
  *   2. one pass computing a tiny per-partition partial (sum / count /
  *      max — numPartitions values, collected to the driver);
  *   3. an exclusive scan of the partials on the driver (numPartitions
  *      elements — O(parallelism), independent of data size);
  *   4. a second pass that seeds each partition's running state with
  *      its offset.
  *
  * Per-primitive physical form — CHOSEN BY MEASUREMENT (sf0.1 + sf10,
  * SCALE.md), not by doctrine:
  *   - [[withRowNumber]] (round 8) and [[cumSumDecimal]] (round 9) are
  *     Catalyst-native: pid/mid materialized into the cached sorted
  *     rows, partials from one tiny aggregation, offsets broadcast
  *     back, and the per-row result from id arithmetic (row number —
  *     no second sort at all) or a pid-PARTITIONED window (cum sum —
  *     parallel across partitions). Native won because codegen'd
  *     decimal window arithmetic beats per-row JBigDecimal in an
  *     RDD pass (q178 sf10: 7.5 → 6.6s).
  *   - [[withRowNumberByGroup]] and [[withPrevMaxLong]] stay RDD-based:
  *     their second pass is a zero-shuffle map over the cached sorted
  *     rows, and the measured native alternative (an extra broadcast
  *     join + window exchange) was 15-50% SLOWER at both sf0.1 and
  *     sf10 (q94: 0.88 → 1.24s at sf0.1). Migrate only if it wins.
  *
  * Both phases hang off the SAME persisted materialization
  * (MEMORY_AND_DISK), so the range shuffle happens once and both
  * phases observe identical partition boundaries (no
  * resample-divergence hazard). Release: call [[releaseAll]] after the
  * pass output is materialized to drop the cached blocks eagerly; the
  * Verify/Bench harnesses do this between queries, and ContextCleaner
  * reclaims on GC as the backstop in library use.
  *
  * All primitives preserve exact engine-equal values: decimal
  * accumulation is DecimalType(38, s) / java.math.BigDecimal
  * (associative, exact — the result is bit-identical to the
  * single-partition window sum), counts and maxes are Longs.
  * RegistrySmokeSpec pins bit-equality against the naive window
  * formulation for every consuming query.
  */
object PrefixPass {

  /** Measurement-only escape hatch: when `graft.prefixpass.naive` is
    * true, every primitive runs as the plain window formulation it
    * replaces (unpartitioned `Window.orderBy` → SinglePartition
    * exchange + one task over the whole input; partitioned window for
    * [[withRowNumberByGroup]]). Exists so SCALE.md's crossover table
    * can time both shapes from the SAME query code — never set it in
    * production paths; RegistrySmokeSpec pins the default-off plan
    * shape. */
  val NaiveConfKey = "graft.prefixpass.naive"

  private def naive(df: DataFrame): Boolean =
    df.sparkSession.conf.get(NaiveConfKey, "false").toBoolean

  /** Every pass's sorted materialization (an RDD[Row] for the
    * RDD-based passes, a cached DataFrame for [[withRowNumber]]),
    * tracked weakly so callers can release the blocks EAGERLY once
    * the pass output is materialized — [[releaseAll]] — instead of
    * waiting for the harness's between-query release
    * ([[graft.tools.Runner.release]]) or ContextCleaner GC. Weak references: a pass cache that became
    * unreachable is already ContextCleaner's job; the registry never
    * extends a cache's lifetime. */
  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[
      java.lang.ref.WeakReference[AnyRef]]()

  private def track(cache: AnyRef): Unit =
    tracked.add(new java.lang.ref.WeakReference[AnyRef](cache))

  /** Unpersist (non-blocking) every pass cache created since the last
    * call. Safe to call once the pass outputs have been materialized;
    * outputs consumed AFTER release recompute from lineage (the
    * caches are persist(), never checkpoints). Library callers should
    * call this after their query's action; the Verify/Bench harnesses
    * call it between queries. */
  def releaseAll(): Unit = {
    var ref = tracked.poll()
    while (ref != null) {
      ref.get match {
        case rdd: RDD[_] => rdd.unpersist(false)
        case df: DataFrame => df.unpersist(false)
        case _ => ()
      }
      ref = tracked.poll()
    }
  }

  /** One range-partitioned, partition-sorted materialization shared by
    * the partial and final passes. */
  private def ranged(
      df: DataFrame, sortCols: Seq[Column]): (RDD[Row], StructType) = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val rdd = sorted.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    track(rdd)
    (rdd, sorted.schema)
  }

  /** Adds `cumCol` = running SUM(`valueCol`) (inclusive, window-SUM
    * null semantics: null until the first non-null value) under the
    * total order `sortCols`, plus returns the grand total — replacing
    * both `sum over Window.orderBy(...)` and
    * `sum over Window.partitionBy()` without a single-partition stage.
    * `sortCols` MUST be a TOTAL order (include a unique tiebreaker):
    * with ties, both the range partitioning and the per-partition row
    * order are nondeterministic, and this ROWS-frame running sum
    * diverges from the RANGE-frame window default, which sums all
    * peers of a tie group together. `valueCol` must be DecimalType;
    * the cum column is DecimalType(38, scale), matching what the
    * window sum would have produced. */
  def cumSumDecimal(
      df: DataFrame,
      sortCols: Seq[Column],
      valueCol: String,
      cumCol: String): (DataFrame, JBigDecimal) = {
    if (naive(df)) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, sum}
      val scale = df.schema(valueCol).dataType.asInstanceOf[DecimalType].scale
      val w = Window.orderBy(sortCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val out = df.withColumn(cumCol,
        sum(col(valueCol)).over(w).cast(DecimalType(38, scale)))
      val t = df.agg(sum(col(valueCol)).cast(DecimalType(38, scale)))
        .head.getDecimal(0)
      return (out, if (t == null) JBigDecimal.ZERO.setScale(scale) else t)
    }
    // Catalyst-native two-phase (round 9 — same template as
    // [[withRowNumber]]): materialize pid/mid into the cached sorted
    // rows, aggregate ONE tiny per-partition partial-sum job
    // (numPartitions rows collected), exclusive-scan on the driver,
    // then compute the final cum as offset + a pid-PARTITIONED window
    // running sum (parallel across partitions — never a
    // SinglePartition stage; the pid exchange re-buckets the cached
    // rows once, all inside Tungsten, replacing the old RDD[Row]
    // deser/ser round-trip). Null semantics match the window SUM the
    // oracle uses: cum is null until the first non-null value
    // globally — `off + within` degrades through coalesce exactly as
    // the BigDecimal accumulator did (nulls never reset a running
    // sum, so a null row's cum IS the partition offset).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit,
      monotonically_increasing_id, spark_partition_id, sum}
    val spark = df.sparkSession
    val scale = df.schema(valueCol).dataType.asInstanceOf[DecimalType].scale
    val n = spark.sessionState.conf.numShufflePartitions
    val pidC = "__graft_pid"
    val midC = "__graft_mid"
    val sorted = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn(pidC, spark_partition_id())
      .withColumn(midC, monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    track(sorted)
    val partials: Array[(Int, JBigDecimal)] = sorted.groupBy(col(pidC))
      .agg(sum(col(valueCol)).cast(DecimalType(38, scale)).as("s"))
      .collect()
      .map(r => (r.getInt(0), r.getDecimal(1)))
      .sortBy(_._1)
    val offsets = new Array[JBigDecimal](n)
    var run: JBigDecimal = null
    partials.foreach { case (i, p) =>
      offsets(i) = run
      if (p != null) run = if (run == null) p else run.add(p)
    }
    val total = if (run == null) JBigDecimal.ZERO.setScale(scale) else run
    val offRows = new java.util.ArrayList[Row](n)
    (0 until n).foreach(i => offRows.add(Row(i, offsets(i))))
    val offSchema = StructType(Seq(
      StructField("__graft_opid", org.apache.spark.sql.types.IntegerType,
        nullable = false),
      StructField("__graft_off", DecimalType(38, scale), nullable = true)))
    val offDf = spark.createDataFrame(offRows, offSchema)
    val w = Window.partitionBy(col(pidC)).orderBy(col(midC))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = sum(col(valueCol)).over(w).cast(DecimalType(38, scale))
    // Explicit null dispatch rather than coalesce(off+within, off,
    // within): under non-ANSI semantics a decimal(38,s) overflow in
    // `off + within` yields null, and coalesce would silently
    // substitute one operand — a plausible but wrong finite cum. With
    // the three-way when, both operands non-null means the sum is
    // taken as-is, so a true overflow surfaces as null instead of a
    // fabricated value (the primitive is documented bit-exact).
    val withinC = "__graft_within"
    val out = sorted
      .join(broadcast(offDf), col(pidC) === col("__graft_opid"))
      .withColumn(withinC, within)
      .withColumn(cumCol,
        org.apache.spark.sql.functions
          .when(col("__graft_off").isNull, col(withinC))
          .when(col(withinC).isNull, col("__graft_off"))
          .otherwise(col("__graft_off") + col(withinC))
          .cast(DecimalType(38, scale)))
      .drop(pidC, midC, "__graft_opid", "__graft_off", withinC)
    (out, total)
  }

  /** Adds `outCol` = 1-based global row number under `sortCols`
    * (`sortCols` MUST be a total order — with ties both the range
    * partitioning and the within-partition order are nondeterministic
    * and the numbering diverges between runs), plus returns the total
    * row count — the distributed ROW_NUMBER/NTILE building block.
    *
    * Catalyst-native two-phase shape (round 8 — replaces the RDD[Row]
    * round-trip, keeping both passes in Tungsten/codegen): after the
    * range-partitioned within-partition sort, `spark_partition_id` +
    * `monotonically_increasing_id` are materialized into the cached
    * rows; mid is contiguous within a partition and assigned in sorted
    * order, so the global row number is `mid + adj(pid)` where
    * adj = (cumulative count of earlier partitions) + 1 - min(mid) —
    * per-partition scalars from ONE tiny aggregation job (collected:
    * numPartitions rows), joined back as a broadcast map-side join.
    * No second sort, no Row allocation, no codegen break. The
    * contiguity the formula relies on is CHECKED per partition
    * (min/max/count from the same aggregate) and aborts loudly if a
    * Spark version ever changes the id layout. */
  def withRowNumber(
      df: DataFrame,
      sortCols: Seq[Column],
      outCol: String): (DataFrame, Long) = {
    if (naive(df)) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      val out = df.withColumn(outCol,
        row_number().over(Window.orderBy(sortCols: _*)).cast(LongType))
      return (out, df.count())
    }
    import org.apache.spark.sql.functions.{broadcast, col, count, lit,
      max, min, monotonically_increasing_id, spark_partition_id}
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val pidC = "__graft_pid"
    val midC = "__graft_mid"
    val sorted = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn(pidC, spark_partition_id())
      .withColumn(midC, monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    track(sorted)
    val partials = sorted.groupBy(col(pidC))
      .agg(count(lit(1)).as("c"), min(col(midC)).as("mn"),
        max(col(midC)).as("mx"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    partials.foreach { case (pid, c, mn, mx) =>
      require(mx - mn + 1 == c,
        s"monotonically_increasing_id not contiguous in partition $pid " +
          s"(count=$c span=${mx - mn + 1}) — id layout changed?")
    }
    var run = 0L
    val adj = partials.map { case (pid, c, mn, _) =>
      val a = (pid, run + 1L - mn); run += c; a
    }.toSeq
    val total = run
    val adjDf = spark.createDataFrame(adj).toDF("__graft_apid", "__graft_adj")
    val out = sorted
      .join(broadcast(adjDf), col(pidC) === col("__graft_apid"))
      .withColumn(outCol, col(midC) + col("__graft_adj"))
      .drop(pidC, midC, "__graft_apid", "__graft_adj")
    (out, total)
  }

  /** Adds `rnCol` = 1-based row number WITHIN each group and `nCol` =
    * the group's total row count, under `sortCols` — which MUST lead
    * with `groupCols` (ascending) so groups are contiguous across the
    * range partitioning, and (as with [[withRowNumber]]) MUST be a
    * total order for the numbering to be deterministic. This is the distributed replacement for a
    * partitioned window whose GROUP COUNT is small but whose GROUP
    * SIZE scales with the fact table (e.g. ntile within 5 market
    * segments over the customer dimension): the partitioned window
    * would run as |groups| single tasks each sorting a fact-scaled
    * slice, while this pass spreads every group across the full range
    * partitioning. Driver state is O(numPartitions x |groups|) —
    * use only for small group counts; high-cardinality groups should
    * keep the plain partitioned window, which is already parallel. */
  def withRowNumberByGroup(
      df: DataFrame,
      groupCols: Seq[String],
      sortCols: Seq[Column],
      rnCol: String,
      nCol: String): DataFrame = {
    if (naive(df)) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, count, lit, row_number}
      val g = Window.partitionBy(groupCols.map(col): _*)
      return df
        .withColumn(rnCol,
          row_number().over(g.orderBy(sortCols: _*)).cast(LongType))
        .withColumn(nCol, count(lit(1)).over(g))
    }
    val (rdd, schema) = ranged(df, sortCols)
    val gIdx = groupCols.map(schema.fieldIndex)
    def keyOf(r: Row): List[Any] = gIdx.map(r.get).toList
    val partials: Array[(Int, Seq[(List[Any], Long)])] =
      rdd.mapPartitionsWithIndex { (i, it) =>
        // groups are contiguous within a sorted partition: count runs
        val runs = scala.collection.mutable.ArrayBuffer[(List[Any], Long)]()
        var cur: List[Any] = null
        var n = 0L
        it.foreach { r =>
          val k = keyOf(r)
          if (k == cur) n += 1
          else { if (cur != null) runs += ((cur, n)); cur = k; n = 1L }
        }
        if (cur != null) runs += ((cur, n))
        Iterator((i, runs.toSeq))
      }.collect().sortBy(_._1)
    // per-(partition, group) exclusive offsets + per-group totals
    val running = scala.collection.mutable.Map[List[Any], Long]()
    val offsets: Array[Map[List[Any], Long]] = partials.map { case (_, runs) =>
      val snapshot = runs.map { case (k, _) =>
        k -> running.getOrElse(k, 0L)
      }.toMap
      runs.foreach { case (k, c) =>
        running(k) = running.getOrElse(k, 0L) + c
      }
      snapshot
    }
    val totals: Map[List[Any], Long] = running.toMap
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var cur: List[Any] = null
      var rn = 0L
      it.map { r =>
        val k = keyOf(r)
        if (k != cur) { cur = k; rn = offsets(i).getOrElse(k, 0L) }
        rn += 1
        Row.fromSeq(r.toSeq :+ rn :+ totals(k))
      }
    }
    val outSchema = StructType(schema.fields :+
      StructField(rnCol, LongType, nullable = false) :+
      StructField(nCol, LongType, nullable = false))
    df.sparkSession.createDataFrame(out, outSchema)
  }

  /** NTILE(k) from a 1-based row number and the row's group size, as a
    * SQL expression over the given column/expression NAMES — the exact
    * first-(n mod k)-buckets-get-ceil(n/k) distribution Spark's and
    * DuckDB's NTILE implement. `rn` and `n` are spliced verbatim, so
    * literals like "1234L" work as well as column names. */
  def ntileExpr(rn: String, n: String, k: Int): Column = {
    import org.apache.spark.sql.functions.expr
    // q = n div k may be 0 (n < k): then every rn <= cut = n and the
    // ELSE branch is unreachable; greatest(...,1) only guards the
    // never-evaluated divisor
    expr(s"CASE WHEN $rn <= ($n % $k) * ($n div $k + 1) " +
      s"THEN ($rn - 1) div ($n div $k + 1) + 1 " +
      s"ELSE ($n % $k) + " +
      s"($rn - ($n % $k) * ($n div $k + 1) - 1) div greatest($n div $k, 1)" +
      " + 1 END")
  }

  /** Adds `outCol` = MAX(`valueCol`) over all STRICTLY PRECEDING rows
    * under `sortCols` (null for the first row — the
    * `rowsBetween(unboundedPreceding, -1)` running max), for
    * Long-typed `valueCol`. The skyline/prefix-dominance primitive.
    * As with [[cumSumDecimal]], `sortCols` MUST be a total order —
    * under ties the "preceding rows" set itself is nondeterministic
    * and the result diverges from the window formulation. */
  def withPrevMaxLong(
      df: DataFrame,
      sortCols: Seq[Column],
      valueCol: String,
      outCol: String): DataFrame = {
    if (naive(df)) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, max}
      val w = Window.orderBy(sortCols: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      return df.withColumn(outCol, max(col(valueCol)).over(w))
    }
    val (rdd, schema) = ranged(df, sortCols)
    val vIdx = schema.fieldIndex(valueCol)
    val partials: Array[(Int, Option[Long])] = rdd.mapPartitionsWithIndex {
      (i, it) =>
        var m: Option[Long] = None
        it.foreach { r =>
          if (!r.isNullAt(vIdx)) {
            val v = r.getLong(vIdx)
            if (m.forall(_ < v)) m = Some(v)
          }
        }
        Iterator((i, m))
    }.collect().sortBy(_._1)
    val offsets = new Array[Option[Long]](partials.length)
    var run: Option[Long] = None
    partials.foreach { case (i, p) =>
      offsets(i) = run
      p.foreach(v => if (run.forall(_ < v)) run = Some(v))
    }
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var m: Option[Long] = offsets(i)
      it.map { r =>
        val prev: Any = m.map(Long.box).orNull
        if (!r.isNullAt(vIdx)) {
          val v = r.getLong(vIdx)
          if (m.forall(_ < v)) m = Some(v)
        }
        Row.fromSeq(r.toSeq :+ prev)
      }
    }
    val outSchema = StructType(schema.fields :+
      StructField(outCol, LongType, nullable = true))
    df.sparkSession.createDataFrame(out, outSchema)
  }
}
