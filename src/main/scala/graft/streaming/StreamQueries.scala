package graft.streaming

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, TimeMode, Trigger}
import org.apache.spark.sql.types._

import graft.{Q, Tables}

/** Event-time query surface (SURVEY §2.7): the reference has no
  * event-time at all — its "windowing" is a 2,000-message count batch
  * (batch_writer_consumer.py:8,63) — so tumbling/sliding/session windows
  * and the streaming pipeline itself are engine extensions, exercised
  * over the events table.
  */
object StreamQueries {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(Tables.tuned(s), dir, n)

  /** Streaming checkpoint root: RAM-backed tmpfs when present. Only
    * for the drain-to-memory-sink harness below, whose state is
    * discarded after the query; a deployment keeps its checkpoints on
    * durable storage. Where a trigger's fixed cost went: SCALE.md,
    * "Ingest triggers". */
  private val ckptBase: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Count of checkpoint trees whose cleanup failed — tmpfs space is
    * RAM, so a silent leak here is invisible memory pressure; the
    * counter (and a stderr line per failure) makes it observable. */
  private val ckptLeaks = new java.util.concurrent.atomic.AtomicLong(0)

  private def deleteRec(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
    } catch {
      // only I/O failures are survivable here: InterruptedException
      // must propagate (the drain harness runs under test timeouts)
      // and fatal errors (OOM, stack overflow) must never be swallowed
      case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
        ckptLeaks.incrementAndGet()
        System.err.println(
          s"graft: leaked checkpoint dir $p (${ckptLeaks.get()} total): $e")
    }

  /** Drain a streaming frame through a memory sink with AvailableNow
    * and return the sink table. Centralizes the harness knobs:
    *   - checkpoint under `ckptBase`, deleted after the drain;
    *   - the shuffle width narrowed to 4 at start: it pins the stateful
    *     operators' state-store count, and N stores × 4 state files per
    *     commit is pure fixed overhead at bench volume;
    *   - no-data micro-batches OFF unless the query's semantics need
    *     the terminal watermark-advance batch (event-time timers:
    *     q205). Complete/update aggregations and append inner joins
    *     emit on the data batch itself, so the trailing no-data batch
    *     is a second full round of per-store commits for zero rows.
    */
  private def drain(s: SparkSession, df: DataFrame, mode: String,
      needsNoDataBatch: Boolean = false): DataFrame = {
    val name = "graft_stream_" + UUID.randomUUID().toString.replace("-", "")
    val ckpt = Files.createTempDirectory(ckptBase, "graft_ckpt_")
    try {
      StreamStart(s, df.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow()),
        ckpt.toString,
        "spark.sql.shuffle.partitions" -> "4",
        "spark.sql.streaming.noDataMicroBatches.enabled" ->
          needsNoDataBatch.toString).awaitTermination()
    } finally deleteRec(ckpt)
    s.table(name)
  }

  /** Streaming file source over the events table with `ts` normalized
    * to TimestampType. The streaming reader requires an explicit
    * schema, and the fixture's physical ts encoding has changed across
    * rounds (Long nanos under nanosAsLong, TIMESTAMP, TIMESTAMP_NTZ) —
    * so the schema is read from the parquet footer per query (one
    * driver-side metadata read) and `Tables.normalizeTs` branches on
    * what actually arrived, instead of hard-coding one encoding. */
  private[graft] def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet").schema
    Tables.normalizeTs(
      s.readStream
        .schema(raw)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Tumbling 1-hour windows, keyed by event type. */
  private val q40 = Q(
    "q40_tumbling_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("w_start"),
          col("event_type"), col("n"), col("sum_value")),
    Some("""
      SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS BIGINT) AS w_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    """))

  /** Sliding windows: 2-hour width, 1-hour slide (each event lands in
    * exactly two windows). The oracle reproduces the slide as the union
    * of two offset tumbling grids. */
  private val q41 = Q(
    "q41_sliding_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("w_start"),
          col("n"), col("sum_value")),
    Some("""
      SELECT CAST(epoch(time_bucket(INTERVAL 2 HOUR, CAST(ts AS TIMESTAMP))) AS BIGINT) AS w_start,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
      UNION ALL
      SELECT CAST(epoch(time_bucket(INTERVAL 2 HOUR, CAST(ts AS TIMESTAMP), INTERVAL 1 HOUR)) AS BIGINT) AS w_start,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
    """))

  /** Sessionization with a 30-minute inactivity gap, batch formulation
    * (gaps-and-islands: new-session flag via lag, session id via running
    * sum). The streaming formulation (`session_window`) is exercised in
    * ScalaTest; this one is oracle-checkable. */
  private val q42 = Q(
    "q42_sessionize",
    (s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_ms").isNull ||
            unix_millis(col("ts")) - col("prev_ms") > 30L * 60 * 1000, 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum(col("is_new")).over(run))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(unix_millis(col("ts"))).as("session_start_ms"),
          max(unix_millis(col("ts"))).as("session_end_ms"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_value"))
    },
    Some("""
      WITH flagged AS (
        SELECT user_id, event_id, value, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
               CASE WHEN lag(epoch_ms(CAST(ts AS TIMESTAMP)), 1)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR epoch_ms(CAST(ts AS TIMESTAMP)) - lag(epoch_ms(CAST(ts AS TIMESTAMP)), 1)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id) > 30*60*1000
                    THEN 1 ELSE 0 END AS is_new
        FROM events),
      sessions AS (
        SELECT user_id, value, ms,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged)
      SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
             MIN(ms) AS session_start_ms, MAX(ms) AS session_end_ms,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM sessions GROUP BY 1, 2
    """))

  /** A real Structured Streaming query: file source -> event-time
    * tumbling aggregation -> memory sink, drained with
    * Trigger.AvailableNow. Result is identical to the batch q40 grouped
    * without the key, which is exactly what the oracle checks — the
    * batch/streaming unification Spark promises.
    */
  private val q43 = Q(
    "q43_stream_tumbling",
    (s, dir) => {
      Tables.tuned(s)
      val src = eventsStream(s, dir)
      val agg = src
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("w_start"),
          col("n"), col("sum_value"))
      drain(s, agg, "complete")
    },
    Some("""
      SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS BIGINT) AS w_start,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
    """))

  /** The reference's whole ingest path end-to-end: stream the events
    * table through the count-batched CSV writer (2,000 rows/file,
    * final partial file included — batch_writer_consumer.py:63-83),
    * then scan the produced batch directory back as one table
    * (spark_model_trainer.py:183-197) and profile it. */
  private val q44 = Q(
    "q44_stream_batchwriter",
    (s, dir) => {
      Tables.tuned(s)
      val out = Files.createTempDirectory("graft_batches_").toString
      val src = eventsStream(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      BatchWriter.writeCountBatches(src, out, batchSize = 2000)
        .awaitTermination()
      val csvSchema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      s.read.option("header", "true").option("recursiveFileLookup", "true")
        .schema(csvSchema).csv(out)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("_metadata.file_path")).as("n_files"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_value"))
    },
    Some("""
      SELECT COUNT(*) AS n_rows,
             CAST(CEIL(COUNT(*) / 2000.0) AS BIGINT) AS n_files,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
    """))

  /** Streaming deduplication — exactly-once ingestion over an
    * at-least-once transport. The source is deliberately doubled (a
    * self-union, simulating redelivery); `withWatermark` +
    * `dropDuplicates(event_id)` holds per-key state only within the
    * watermark horizon, so state is bounded at 100 TB rather than
    * growing with the stream's lifetime. The downstream aggregate must
    * then equal the batch answer over the UNIQUE events — which is
    * exactly what the oracle asserts. */
  private val q117 = Q(
    "q117_stream_dedup",
    (s, dir) => {
      Tables.tuned(s)
      def src = eventsStream(s, dir)
      val doubled = src.unionByName(src) // simulated redelivery
      // dropDuplicatesWithinWatermark — NOT plain dropDuplicates("id"):
      // state for an event-time-less key set is never evicted, whereas
      // the within-watermark variant drops a key's state once the
      // watermark passes it, which is what actually bounds state at
      // scale (redeliveries arrive within the transport's replay
      // horizon, well inside the watermark delay)
      val deduped = doubled
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      val agg = deduped
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_value"))
      drain(s, agg, "complete")
    },
    Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
    """))

  /** Watermarked stream-stream time-interval join — the attribution
    * shape (view -> action within 5 minutes, per user). Both sides
    * carry a watermark and the join condition bounds a_ts to
    * [v_ts, v_ts + 5 min], which is what lets Spark EVICT join state:
    * a view older than watermark - 5 min can never match a future
    * action, so state is bounded by the interval x arrival rate, not
    * by the stream's history — the property that keeps this join
    * runnable forever at scale. The streamed join emits append-mode
    * pairs; a batch aggregate over the sink then makes the output
    * deterministic, and the oracle replays the identical interval
    * join relationally. */
  private val q126 = Q(
    "q126_stream_stream_join",
    (s, dir) => {
      Tables.tuned(s)
      // One source instance (val, not def): both join branches share the
      // same file-source, so each microbatch scans events once, not twice.
      val src = eventsStream(s, dir)
      val views = src.filter(col("event_id") % 2 === 0)
        .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val acts = src.filter(col("event_id") % 2 === 1)
        .select(col("user_id").as("a_user"), col("event_id").as("a_id"),
          col("ts").as("a_ts"), col("value").as("a_value"))
        .withWatermark("a_ts", "1 hour")
      val joined = views.join(acts,
        col("v_user") === col("a_user") &&
          col("a_ts") >= col("v_ts") &&
          col("a_ts") <= col("v_ts") + expr("INTERVAL 5 MINUTES"))
      drain(s, joined, "append")
        .groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("v_id")).as("n_views"),
          count_distinct(col("a_id")).as("n_acts"),
          sum(col("a_value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("attributed_value"))
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, value,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us
                 FROM events),
      v AS (SELECT user_id, event_id AS v_id, us AS v_us
            FROM e WHERE event_id % 2 = 0),
      a AS (SELECT user_id, event_id AS a_id, us AS a_us, value
            FROM e WHERE event_id % 2 = 1),
      j AS (SELECT v.user_id, v_id, a_id, value
            FROM v JOIN a ON v.user_id = a.user_id
            AND a_us >= v_us AND a_us <= v_us + 5*60*1000000)
      SELECT user_id, COUNT(*) AS n_pairs,
             COUNT(DISTINCT v_id) AS n_views,
             COUNT(DISTINCT a_id) AS n_acts,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS attributed_value
      FROM j GROUP BY 1
    """))

  /** Custom per-key streaming state via `mapGroupsWithState` — the
    * KeyValueGroupedDataset escape hatch for state machines the
    * built-in windowed aggregates can't express (SURVEY §2.7). The
    * state here is a running (count, max) per user, updated once per
    * micro-batch; the emitted rows are the state snapshots, so the
    * final per-user maximum across batches equals the batch aggregate
    * the oracle computes — which is exactly the replayability
    * contract custom state must honor. Update-mode + memory sink;
    * monotone state means a last-write-wins max() collapse over the
    * per-batch snapshots is deterministic whatever the batch split.
    * (Production note: state lives in the state store, partitioned by
    * key — per-key memory is O(1), so the operator is stable at any
    * stream length.) */
  private val q139 = Q(
    "q139_stateful_user_profile",
    (s, dir) => {
      Tables.tuned(s)
      import s.implicits._
      val src = eventsStream(s, dir)
        // the tuple encoder's primitive fields reject nulls at runtime;
        // filter (and mirror in the oracle) so the query is total over
        // the declared nullable schema, not reliant on clean testdata
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("value"))
        .as[(Long, Double)]
      val updated = src.groupByKey(_._1)
        .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
          GroupStateTimeout.NoTimeout) {
          case (uid, evs, state) =>
            var (c, m) = state.getOption.getOrElse((0L, Double.NegativeInfinity))
            evs.foreach { e =>
              c += 1
              // NaN is greatest, matching batch max()/the oracle's MAX
              // (a bare `>` would silently drop NaN values)
              if (!m.isNaN && (e._2.isNaN || e._2 > m)) m = e._2
            }
            state.update((c, m))
            (uid, c, m)
        }
        .toDF("user_id", "n_events", "max_value")
      drain(s, updated, "update")
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max(col("max_value")).as("max_value"))
    },
    Some("""
      SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    """))

  /** Streaming session windows: the native `session_window` gap
    * aggregation (dynamic, per-key merging windows — state that grows
    * and MERGES, unlike fixed tumbling buckets) over the event-time
    * stream, drained with AvailableNow into a memory sink. Complete
    * mode so the final table carries every session (append would
    * withhold sessions the terminal watermark hasn't closed).
    * Session semantics are Spark's strict overlap-merge: a new
    * session starts when the gap is >= 10 minutes, which is exactly
    * what the oracle's island SQL encodes (`diff >= gap`, not `>`).
    * The user_id < 40 predicate prunes at the stream's file source.
    * Windows surface as epoch-micros (end = last event + gap). */
  private val q157 = Q(
    "q157_stream_session",
    (s, dir) => {
      Tables.tuned(s)
      val src = eventsStream(s, dir)
        .filter(col("user_id") < 40)
      val agg = src
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("s_start_us"),
          unix_micros(col("session_window.end")).as("s_end_us"),
          col("n_events"), col("sum_value"))
      drain(s, agg, "complete")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, value, epoch_us(ts) AS us
        FROM events WHERE user_id < 40),
      flagged AS (
        SELECT user_id, event_id, value, us,
               CASE WHEN lag(us, 1) OVER w IS NULL
                    OR us - lag(us, 1) OVER w >= 600000000
                    THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      sessions AS (
        SELECT user_id, value, us,
               SUM(is_new) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS seq
        FROM flagged)
      SELECT user_id, MIN(us) AS s_start_us,
             MAX(us) + 600000000 AS s_end_us,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM sessions GROUP BY user_id, seq
    """))

  /** Stream-static enrichment join: the streaming fact is joined to a
    * broadcast batch dimension BEFORE the event-time aggregation — the
    * canonical streaming-ETL enrichment shape (§2.7 has no reference
    * analogue; its consumer never joins). The static side is planned
    * as a broadcast per micro-batch, so the stream never shuffles for
    * the join; only the windowed aggregation keys the state store.
    * Batch/streaming unification makes the DuckDB batch join+group the
    * exact oracle.
    */
  private val q175 = Q(
    "q175_stream_static_enrich",
    (s, dir) => {
      Tables.tuned(s)
      val src = eventsStream(s, dir)
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = src
        .join(broadcast(cust), col("user_id") + 1 === col("c_custkey"))
        .groupBy(window(col("ts"), "1 day"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("w_start"),
          col("c_mktsegment").as("segment"), col("n"), col("sum_value"))
      drain(s, agg, "complete")
    },
    Some("""
      SELECT CAST(epoch(time_bucket(INTERVAL 1 DAY, CAST(e.ts AS TIMESTAMP))) AS BIGINT) AS w_start,
             c.c_mktsegment AS segment, COUNT(*) AS n,
             CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
      GROUP BY 1, 2
    """))

  /** Streaming-maintained HyperLogLog: the q190 sketch kept up to date
    * by the stream itself. Register rows derive per micro-batch; the
    * streaming aggregation `max(r)` per (event_type, bucket) IS the
    * sketch merge — max is idempotent and commutative, so the state
    * store holds exactly 256 rows per event type no matter how many
    * events flow through (contrast a streaming COUNT DISTINCT, whose
    * state grows with cardinality). The estimate is computed batch-side
    * from the final register table with the same kernel as q190, and
    * the oracle recomputes it from scratch — streaming maintenance must
    * land on the bit-identical estimate.
    */
  private val q194 = Q(
    "q194_stream_hll",
    (s, dir) => {
      Tables.tuned(s)
      val src = eventsStream(s, dir)
      val reg = graft.operators.SketchQueries.hllRegisterRows(src)
        .groupBy(col("event_type"), col("bucket"))
        .agg(max(col("r")).as("r"))
      graft.operators.SketchQueries.hllEstimate(drain(s, reg, "complete"))
    },
    Some(s"""
      WITH ev AS (
        SELECT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) AS h
        FROM events WHERE user_id IS NOT NULL),
      rk AS (
        SELECT event_type, h >> 24 AS bucket,
               MAX(CASE WHEN (h & 16777215) = 0 THEN 25
                        ELSE 25 - length(bin(h & 16777215)) END) AS r
        FROM ev GROUP BY 1, 2),
      ps AS (
        SELECT event_type,
               SUM(CAST(list_extract(${graft.operators.SketchQueries.Pow2Lut
                 .map(x => s"'$x'").mkString("[", ", ", "]")}, r)
                 AS DECIMAL(38,30))) AS sp,
               COUNT(*) AS nreg
        FROM rk GROUP BY 1),
      est AS (
        SELECT event_type, nreg,
               (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 /
                 CAST(sp + (256 - nreg) AS DOUBLE) AS raw_e,
               256 - nreg AS zeros
        FROM ps)
      SELECT event_type,
             CAST(nreg AS BIGINT) AS n_registers,
             ROUND(CASE WHEN raw_e <= 640.0 AND zeros > 0
                        THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
                        ELSE raw_e END, 4) AS hll_estimate
      FROM est
    """))

  /** Per-user running aggregate on Spark 4's transformWithState — the
    * successor to mapGroupsWithState (q139): typed ValueState handles,
    * TTL support, and the RocksDB state-store backend it requires. The
    * processor keeps (count, spend-cents) per user and emits the
    * running totals each batch; with AvailableNow the single batch's
    * emission is the final state, so the DuckDB per-user batch
    * aggregate is the exact oracle (cents arithmetic — no doubles in
    * state). State is two longs per user: the state store scales with
    * the USER dimension, never the event count. The RocksDB provider
    * conf is set for this query and restored after, since
    * transformWithState rejects the default HDFS-backed provider.
    */
  private val q197 = Q(
    "q197_transform_with_state",
    (s, dir) => {
      Tables.tuned(s)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val oldProvider = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        import s.implicits._
        val src = eventsStream(s, dir)
          // value IS NOT NULL: the (Long, Long) encoder rejects a null
          // cents at runtime; mirrored in the oracle's WHERE
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("user_id"),
            (col("value").cast(DecimalType(18, 2)) * 100)
              .cast(LongType).as("cents"))
          .as[(Long, Long)]
        val out = src
          .groupByKey(_._1)
          .transformWithState(new UserSpendProcessor,
            TimeMode.None(), OutputMode.Update())
        drain(s, out.toDF("user_id", "n_events", "spend_cents"),
          "update")
      } finally {
        oldProvider match {
          case Some(v) => s.conf.set(providerKey, v)
          case None => s.conf.unset(providerKey)
        }
      }
    },
    Some("""
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS spend_cents
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    """))

  /** Bounded per-key buffer on transformWithState's ListState: the
    * last-3 events per user, maintained as a 3-element sorted list in
    * state. Each batch merges its rows into the buffer and re-truncates
    * — state is EXACTLY 3 (ts, event_id) pairs per user forever, the
    * streaming analogue of the q174 bounded top-k aggregator (contrast
    * collecting all events per user: unbounded). Deterministic under
    * the (ts desc, event_id desc) total order regardless of arrival
    * order; the oracle is the batch ROW_NUMBER top-3.
    */
  private val q204 = Q(
    "q204_list_state",
    (s, dir) => {
      Tables.tuned(s)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val oldProvider = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        import s.implicits._
        val src = eventsStream(s, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull &&
            col("event_id").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"))
          .as[(Long, Long, Long)]
        val out = src
          .groupByKey(_._1)
          .transformWithState(new LastEventsProcessor,
            TimeMode.None(), OutputMode.Update())
        drain(s, out.toDF("user_id", "rnk", "event_id", "ts_us"),
          "update")
      } finally {
        oldProvider match {
          case Some(v) => s.conf.set(providerKey, v)
          case None => s.conf.unset(providerKey)
        }
      }
    },
    Some("""
      WITH ranked AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rnk
        FROM events WHERE user_id IS NOT NULL
          AND ts IS NOT NULL AND event_id IS NOT NULL)
      SELECT user_id, CAST(rnk AS BIGINT) AS rnk, event_id, ts_us
      FROM ranked WHERE rnk <= 3
    """))

  /** Event-time TIMERS on transformWithState: per-user inactivity
    * detection. Each batch re-registers one timer at last_seen + 30min
    * (deleting the previous — at most ONE pending timer per key);
    * data batches emit nothing, and when the watermark passes a
    * timer, handleExpiredTimer emits (user, last_seen, expiry) from
    * state. Under AvailableNow the post-data timer batch fires every
    * timer strictly below the terminal watermark (max event time − 1s
    * delay), so the result is the deterministic set of users inactive
    * 30min before the stream's end — exactly the oracle's predicate.
    * This is the timer third of the transformWithState surface
    * (ValueState q197, ListState q204, timers here).
    */
  private val q205 = Q(
    "q205_event_timers",
    (s, dir) => {
      Tables.tuned(s)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val oldProvider = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        import s.implicits._
        val src = eventsStream(s, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .withColumn("ets", timestamp_millis(unix_millis(col("ts"))))
          .withWatermark("ets", "1 second")
          .select(col("user_id"), unix_millis(col("ts")).as("ms"))
          .as[(Long, Long)]
        val out = src
          .groupByKey(_._1)
          .transformWithState(new InactivityTimerProcessor,
            TimeMode.EventTime(), OutputMode.Update())
        // timers fire in the terminal no-data batch when the watermark
        // advances past them — that batch is the query's entire output
        drain(s, out.toDF("user_id", "last_ms", "expiry_ms"),
          "update", needsNoDataBatch = true)
      } finally {
        oldProvider match {
          case Some(v) => s.conf.set(providerKey, v)
          case None => s.conf.unset(providerKey)
        }
      }
    },
    Some("""
      WITH evms AS (
        SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      lasts AS (
        SELECT user_id, MAX(ms) AS last_ms FROM evms GROUP BY 1)
      SELECT user_id, last_ms, last_ms + 1800000 AS expiry_ms
      FROM lasts
      WHERE last_ms + 1800000 < (SELECT MAX(ms) - 1000 FROM evms)
    """))

  /** MapState per-key sub-keyed counts — the fourth and last
    * transformWithState primitive: each user\'s state is a map
    * event_type -> count, point-updated per batch (updateValue), never
    * materialized whole except at emission. State per user is bounded
    * by the EVENT-TYPE vocabulary (5 here), not event volume, and the
    * map layout means a 10M-type vocabulary would still update
    * point-wise in RocksDB rather than rewriting a monolithic blob —
    * the reason MapState exists instead of ValueState[Map].
    */
  private val q206 = Q(
    "q206_map_state",
    (s, dir) => {
      Tables.tuned(s)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val oldProvider = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        import s.implicits._
        val src = eventsStream(s, dir)
          // event_type is a MapState key; a null key would fail in the
          // state encoder, so exclude (mirrored in the oracle)
          .filter(col("user_id").isNotNull && col("event_type").isNotNull)
          .select(col("user_id"), col("event_type"))
          .as[(Long, String)]
        val out = src
          .groupByKey(_._1)
          .transformWithState(new TypeCountsProcessor,
            TimeMode.None(), OutputMode.Update())
        drain(s, out.toDF("user_id", "event_type", "n"),
          "update")
      } finally {
        oldProvider match {
          case Some(v) => s.conf.set(providerKey, v)
          case None => s.conf.unset(providerKey)
        }
      }
    },
    Some("""
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    """))

  val registry: Seq[Q] = Seq(q40, q41, q42, q43, q44, q117, q126, q139,
    q157, q175, q194, q197, q204, q205, q206)
}

/** transformWithState processor for q197: running (count, cents) per
  * user in a typed ValueState. Emitting the running totals on every
  * batch makes Update-mode output idempotent per key; the memory sink
  * keeps the latest row per key per batch.
  */
class UserSpendProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long), (Long, Long, Long)] {

  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("agg",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong),
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Long)] = {
    var (c, cents) = if (st.exists()) st.get() else (0L, 0L)
    rows.foreach { case (_, v) => c += 1; cents += v }
    st.update((c, cents))
    Iterator.single((key, c, cents))
  }
}

/** transformWithState processor for q204: a bounded 3-element buffer of
  * (ts_us, event_id) per user in ListState, kept sorted by (ts desc,
  * event_id desc). put() replaces the whole list each batch, so state
  * never exceeds 3 entries per key.
  */
class LastEventsProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long), (Long, Long, Long, Long)] {

  @transient private var st:
    org.apache.spark.sql.streaming.ListState[(Long, Long)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getListState[(Long, Long)]("last3",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong),
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Long, Long)] = {
    val cur = if (st.exists()) st.get().toSeq else Seq.empty
    val merged = (cur ++ rows.map(r => (r._2, r._3)))
      .sortBy { case (ts, id) => (-ts, -id) }
      .take(3)
    st.put(merged.toArray)
    merged.iterator.zipWithIndex.map { case ((ts, id), i) =>
      (key, (i + 1).toLong, id, ts)
    }
  }
}

/** transformWithState processor for q205: one pending event-time timer
  * per user at last_seen + 30min. Data batches only maintain state
  * (delete old timer, register new); expiry emits from state.
  */
class InactivityTimerProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long), (Long, Long, Long)] {

  private val GapMs = 30L * 60 * 1000

  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[Long]("last_seen",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Long)] = {
    val mx = rows.map(_._2).max
    val last = if (st.exists()) math.max(st.get(), mx) else mx
    st.update(last)
    getHandle.listTimers().foreach(t =>
      getHandle.deleteTimer(t.asInstanceOf[Long]))
    getHandle.registerTimer(last + GapMs)
    Iterator.empty
  }

  override def handleExpiredTimer(
      key: Long,
      timerValues: org.apache.spark.sql.streaming.TimerValues,
      info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[(Long, Long, Long)] = {
    val last = st.get()
    Iterator.single((key, last, info.getExpiryTimeInMs))
  }
}

/** transformWithState processor for q206: MapState[event_type -> count]
  * per user, point-updated; emits the full current map each batch.
  */
class TypeCountsProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, String), (Long, String, Long)] {

  @transient private var st:
    org.apache.spark.sql.streaming.MapState[String, Long] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getMapState[String, Long]("type_counts",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, String)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, String, Long)] = {
    rows.foreach { case (_, et) =>
      val cur = if (st.containsKey(et)) st.getValue(et) else 0L
      st.updateValue(et, cur + 1L)
    }
    st.iterator().map { case (et, n) => (key, et, n) }
  }
}

/** transformWithState processor for the streaming near-dup gate —
  * q251's streaming form. Key = one band signature ("band_idx:bh");
  * input = (band_key, doc_id); ValueState holds the MIN doc_id seen
  * for this signature in EARLIER micro-batches. Docs in the current
  * batch are flagged against that prior owner only (same-batch peers
  * never flag each other — state commits at batch boundaries, the
  * batch-replay semantics q251's oracle checks), then the state
  * absorbs the batch's minimum. One emission per (doc, hit band), so
  * a per-doc count of emissions is the gate's n_hit_bands and their
  * min owner its first_seen. State is one long per DISTINCT band
  * signature — never per document — so the gate's state store scales
  * with content diversity, not stream length.
  */
class DedupGateProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    String, (String, Long), (Long, Long)] {

  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[Long]("first_seen",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[(String, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long)] = {
    if (st.exists()) {
      // a prior owner exists: every doc in the batch is an emission, so
      // buffering here is the output itself, not overhead
      val owner = st.get()
      val docs = rows.map(_._2).toVector
      st.update(math.min(if (docs.isEmpty) owner else docs.min, owner))
      docs.iterator.map(d => (d, owner))
    } else {
      // first sighting of this signature: nothing is emitted, so fold a
      // running min over the iterator WITHOUT materializing the batch —
      // a hot signature (many copies of one text in one micro-batch)
      // must not pin memory proportional to its batch occupancy
      var m = Long.MaxValue
      var any = false
      while (rows.hasNext) {
        val d = rows.next()._2
        any = true
        if (d < m) m = d
      }
      if (any) st.update(m)
      Iterator.empty
    }
  }
}

/** transformWithState processor for the per-source token-quota
  * admission gate — q261's streaming form. Key = source; input =
  * (source, doc_id, n_tok); ValueState holds the source's running
  * token total across micro-batches. Within a batch the key's rows
  * are processed in doc_id order (arrival order inside the batch),
  * every arrival counts toward the total, and a document is admitted
  * iff the total INCLUDING it is within the budget — the same
  * prefix-cumsum predicate q261's batch formulation (and oracle)
  * computes, so stream and batch replay agree exactly. One emission
  * per document: (doc_id, admitted). State is one Long per source —
  * it scales with the source count, never the stream length.
  */
class TokenQuotaProcessor(budget: Long)
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    String, (String, Long, Long), (Long, Boolean)] {

  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[Long]("tok_total",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[(String, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Boolean)] = {
    // admission is order-sensitive, so the batch's rows for this key
    // must be buffered and sorted by doc_id — unlike the dedup gate's
    // first-sighting path, every row here produces an emission, so the
    // buffer is the output itself, not overhead
    val docs = rows.map(r => (r._2, r._3)).toArray.sortInPlaceBy(_._1)
    var cum = if (st.exists()) st.get() else 0L
    val out = docs.map { case (d, n) => cum += n; (d, cum <= budget) }
    st.update(cum)
    out.iterator
  }
}

/** transformWithState processor for the streaming CDC upsert apply —
  * q279's streaming form. Key = the CDC key; input = (k, seq);
  * ValueState holds the key's applied high-water mark (max seq) from
  * EARLIER micro-batches. Every change in the current batch compares
  * against that pre-batch mark only (same-batch changes never shadow
  * each other — state commits at batch boundaries, the batch-replay
  * semantics q279's oracle checks): a change is STALE iff its seq is
  * below the mark, else it applies. One emission per change,
  * (seq, stale), so batch telemetry aggregates downstream. State is
  * ONE long per key — the upsert-engine minimum — and out-of-order
  * delivery across batches is shielded exactly the way a Delta /
  * Debezium sink shields it.
  */
class CdcApplyProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long), (Long, Boolean)] {

  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[Long]("hwm",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Boolean)] = {
    val hwm = if (st.exists()) Some(st.get()) else None
    // every row emits, so buffering the batch IS the output; track the
    // batch max while tagging against the PRE-batch mark
    var newMax = hwm.getOrElse(Long.MinValue)
    val out = rows.map { case (_, seq) =>
      if (seq > newMax) newMax = seq
      (seq, hwm.exists(seq < _))
    }.toVector
    st.update(newMax)
    out.iterator
  }
}
