package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-gated broadcast hint for iterative plans whose "small" side is
  * dimension-scaled (a BFS frontier, a PageRank rank table) rather than
  * constant-bounded.
  *
  * An unconditional `broadcast()` on such a side is a 100x-scale
  * hazard: the table grows linearly with the fact data, so past the
  * 8 GB broadcast ceiling the job dies outright, and well before that
  * it evicts executor memory every iteration. The fix is to hint
  * broadcast only while the side's MEASURED row count is under a
  * limit, and fall back to a plain shuffled equi-join otherwise. The
  * caller must pass a row count it actually knows (typically a
  * `count()` on a localCheckpoint the iteration materializes anyway,
  * so the measurement is free) — this helper never triggers a count
  * itself, because a count on an unmaterialized lineage would
  * re-execute the plan.
  *
  * The default limit (5M rows, ~40 MB of longs) keeps the broadcast
  * comfortably inside the ceiling and executor memory for key-only
  * tables; callers broadcasting wider rows should lower it via the
  * `graft.broadcast.rowLimit` conf. Setting the conf to 0 disables
  * the hint entirely — specs use that to pin the shuffled path.
  *
  * Call sites and the constant-bounded-vs-fact-scaled classification
  * of every other `broadcast(` in the repo are audited in PLANS.md
  * ("Broadcast audit").
  */
object GatedBroadcast {
  val ConfKey = "graft.broadcast.rowLimit"
  val DefaultRowLimit: Long = 5L * 1000 * 1000

  /** The session's effective row limit for gated broadcasts. */
  def rowLimit(df: DataFrame): Long =
    df.sparkSession.conf.get(ConfKey, DefaultRowLimit.toString).toLong

  /** Hint `broadcast(df)` iff `measuredRows` (a count the caller has
    * already paid for) is within the session's row limit; otherwise
    * return `df` unhinted so the join planner picks a shuffled
    * strategy. */
  def apply(df: DataFrame, measuredRows: Long): DataFrame =
    if (measuredRows <= rowLimit(df)) broadcast(df) else df

  /** Gate for REBROADCAST-per-iteration sites — a rank table or
    * frontier rebuilt and re-broadcast every round of an iterative
    * algorithm. The broadcast's serialize/ship/hash-build cost is paid
    * per iteration (the shuffled fallback instead reuses the static
    * side's map output across rounds via its localCheckpoint), so the
    * measured crossover sits an order of magnitude below the one-shot
    * case: q135's 3-iteration PageRank broadcast wins at 20k rank
    * rows, ties at 200k, and loses 1.5x at 2M (SCALE.md crossover
    * table), while one-shot gates are still winning at 5M. Uses
    * rowLimit/10 (default 500k). */
  def iterative(df: DataFrame, measuredRows: Long): DataFrame =
    if (measuredRows <= rowLimit(df) / 10) broadcast(df) else df
}

/** Width chooser for the round-15 SHUFFLE-FIRST DEDUP pattern: a
  * high-cardinality groupBy/distinct repartitions on its grouping
  * keys FIRST so every aggregation hash map is bounded by a slim key
  * slice (map-side partial aggregation over fat partitions was the
  * measured ×100 execution-memory OOM storm — SCALE.md round 15).
  * The width scales with the MEASURED input rows (~500k rows per
  * slice) and floors at the session's shuffle width, so small
  * fixtures pay no extra-task latency tax (a fixed 128 cost q163
  * +7.6s at sf0.1) while big ones get the slim slices that keep the
  * 4 GiB margin probe green. */
object ShufflePlan {
  /** The 256 cap is sized for THIS harness (single 8 GiB local[32]
    * JVM — 256 × 500k-row slices ≈ the ×100 fixture's upper bound,
    * and more tasks only add latency here). On a real cluster the
    * bounded-hash-map property needs the cap to scale with executor
    * count: beyond ~128M input rows per-slice cardinality grows
    * unbounded again, so deployments should raise the cap to
    * O(totalCores × a small factor) via spark.sql.shuffle.partitions,
    * which this floor tracks. */
  /** Hash-repartition by key at the session's PINNED shuffle width
    * (round 21): `df.repartition(col)` without a count is
    * REPARTITION_BY_COL, which AQE may coalesce by BYTES — and every
    * content-grain kernel that shuffles slim text rows and then runs a
    * CPU-dense projection (shingles, regexp tokenize, MinHash) on the
    * aggregate's output inherited 1–3 post-coalesce partitions at
    * small inputs, serializing md5-heavy work on one core. Pinning the
    * count (REPARTITION_BY_NUM) keeps the width AQE would have used
    * before coalescing — identical at scale, parallel at small scale;
    * the width is the deployment's own spark.sql.shuffle.partitions,
    * so nothing is tuned to local mode. */
  def pinnedByKey(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, key: _*)

  def dedupParts(df: org.apache.spark.sql.DataFrame,
      inputRows: Long): Int = {
    val base = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    // cap floors at 8× the session shuffle width so a cluster-sized
    // session (e.g. 2000 shuffle partitions) is never clamped to the
    // local harness's 256
    math.min(math.max(256, base * 8),
      math.max(base, (inputRows / 500000L).toInt))
  }
}
