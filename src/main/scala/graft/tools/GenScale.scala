package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up fixture generator for the SCALE.md crossover measurements
  * (round-8 advice #5): writes an sf1-equivalent dataset by key-shifted
  * 10x replication of the read-only driver fixtures at sf0.1.
  *
  * Replication preserves every per-key distribution (orders per
  * customer, lineitems per order, ties, skew) exactly — each copy i
  * shifts the join keys by i*stride (stride = max(key)+1, so copies
  * never collide) — which is what a scaling measurement wants: the
  * same query shapes at 10x the rows, not a new synthetic
  * distribution. Deterministic (no rand anywhere), so repeated
  * generations are byte-stable modulo parquet encoding.
  *
  * Usage: runMain graft.tools.GenScale [srcDir] [outDir] [factor]
  * Defaults: /root/testdata/sf0.1 -> /tmp/graft_sf1, factor 10.
  * region/nation are constant dimensions and copy unshifted;
  * embeddings replicate with shifted vec_id + deterministic ±5%
  * jitter on copies (see inline note). documents replicate with
  * shifted doc_id
  * and VERBATIM text (round 10) so the corpus wave is stressed with
  * xF exact duplication over the same vocabulary.
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // optional 4th arg: regenerate only the named tables
    val only = args.drop(3).toSet
    val spark = SparkSession.builder()
      .master(s"local[${Runner.cpus}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // events.ts physical encoding varies by fixture vintage
    // (TIMESTAMP(NANOS), timestamp[us] NTZ, ...). Read it raw —
    // nanosAsLong covers the nanos vintage — and write the copy
    // unmodified; Tables.normalizeTs branches on whatever the copy's
    // footer says, same as for the original.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def load(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect().head.getLong(0) + 1L

    val strides: Map[String, Long] = Map(
      "c_custkey" -> maxOf(load("customer"), "c_custkey"),
      "s_suppkey" -> maxOf(load("supplier"), "s_suppkey"),
      "p_partkey" -> maxOf(load("part"), "p_partkey"),
      "o_orderkey" -> maxOf(load("orders"), "o_orderkey"),
      "user_id" -> maxOf(load("events"), "user_id"),
      // documents: stride must clear the dedup corpus()'s planted-copy
      // id bands (+100000 near / +200000 exact on doc_id < 20) — a
      // shifted copy landing in 100000..200020 would collide with a
      // planted id, fan out the verify joins, and poison the
      // candidate-growth measurement (seen at x100: out > candidates)
      "doc_id" -> math.max(maxOf(load("documents"), "doc_id"), 1000000L))

    // (table, shifted columns -> stride key)
    val scaled: Seq[(String, Map[String, String])] = Seq(
      "customer" -> Map("c_custkey" -> "c_custkey"),
      "supplier" -> Map("s_suppkey" -> "s_suppkey"),
      "part" -> Map("p_partkey" -> "p_partkey"),
      "orders" -> Map("o_orderkey" -> "o_orderkey",
        "o_custkey" -> "c_custkey"),
      "lineitem" -> Map("l_orderkey" -> "o_orderkey",
        "l_partkey" -> "p_partkey", "l_suppkey" -> "s_suppkey"),
      "events" -> Map("user_id" -> "user_id"),
      // round 10: the training-set wave (q216-q225) scales with the
      // corpus, so documents replicate too. Copies keep the TEXT
      // verbatim (only doc_id shifts) — so a xF fixture carries xF
      // exact duplication, which is precisely what the dedup/chunking
      // shapes should be stressed with: hash groups of F rows instead
      // of 1, same distinct-shingle vocabulary.
      "documents" -> Map("doc_id" -> "doc_id"))

    scaled.foreach { case (t, shifts) =>
      if (only.isEmpty || only(t)) {
        val base = load(t)
        val copies = (0 until factor).map { i =>
          shifts.foldLeft(base) { case (df, (c, strideKey)) =>
            df.withColumn(c, col(c) + lit(i * strides(strideKey)))
          }
        }
        copies.reduce(_.unionAll(_))
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"[genscale] $t x$factor written")
      }
    }
    // embeddings replicate with shifted vec_id AND a small
    // deterministic multiplicative jitter (±5%, xxhash64-derived) on
    // copies i>0: verbatim vector copies would make every duplicate a
    // cosine-identical tie and the recall-at-scale measurement
    // (SCALE.md, round-9 advice #5) vacuous — jittered copies densify
    // each vector's true neighborhood instead, which is the stress an
    // ANN index actually faces as a corpus grows. Copy 0 is verbatim,
    // so the probe vector (vec_id = 0) and every original neighbor
    // ranking stay available.
    if (only.isEmpty || only("embeddings")) {
      val e = load("embeddings")
      val stride = maxOf(e, "vec_id")
      val copies = (0 until factor).map { i =>
        if (i == 0) e
        else e.select(
          (col("vec_id") + lit(i * stride)).as("vec_id"),
          transform(col("embedding"), (x, d) =>
            (x * (lit(1.0) +
              (pmod(xxhash64(col("vec_id") * 64 + d + lit(i * 1000003L)),
                lit(2001L)).cast("double") - 1000.0) / 20000.0))
              .cast("float")).as("embedding"),
          col("label"))
      }
      copies.reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"[genscale] embeddings x$factor written (jittered copies)")
    }
    Seq("region", "nation").foreach { t =>
      if (only.isEmpty || only(t)) {
        load(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"[genscale] $t copied")
      }
    }
    spark.stop()
  }
}
