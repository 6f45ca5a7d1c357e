package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.operators.DedupQueries
import graft.tools.{PeakHeap, Runner}

object Bench {

  /** Variance control: a run sharing the box with concurrent work
    * measured 1.5x slower totals on identical code (157.9 s -> 241.6 s),
    * which makes a single timing un-gateable. A query whose first run
    * is slower than [[RepeatThresholdS]], or failed, runs [[Repeats]]
    * times and reports the min over its successful runs: the min
    * estimates code speed, not scheduler noise. A fast first run is
    * accepted as is, so the added wall cost is bounded by the slow
    * tail. */
  private val Repeats = 2
  private val RepeatThresholdS = 1.0

  /** Post-GC footprint from which a floor fixture's query is followed
    * by a forced GC (see the policy in [[main]]). */
  private val ForceGcGb = 1.5

  /** Pre-warm the JVM so the first timed query isn't charged one-time
    * startup: codegen pipeline, parquet reader, and the streaming
    * machinery (state-store coordinator, WAL, stream execution
    * threads — measured ~2s charged to the first streaming query
    * otherwise). */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    // Warm EVERY table, not just lineitem: the post-recycle context has
    // an empty block manager and cold parquet footer caches, and the
    // round-6 bench showed queries positioned right after a recycle
    // (documents/orders-heavy q77/q82/q86/q90) reading 2-3x slower than
    // the same code in a warm context — harness artifact, not plan cost.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[Long]
      ms.addData(1L, 2L, 3L)
      val q = ms.toDF().groupBy().count()
        .writeStream.outputMode("complete").format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(15000); q.stop()
    } catch { case _: Throwable => () }
  }

  /** Contention canary: a fixed-work, single-task, pure-CPU job whose
    * wall time depends ONLY on how much of one core the OS actually
    * gives this JVM. Run before and after the suite and reported in
    * the JSON, it makes a host-contended window self-labelling: the
    * benched code cannot influence it, so canary inflation vs the
    * committed clean-pair values (~0.2s on an idle box) marks
    * the RUN as noisy, not the code as slow (rounds 8 and 10 both had
    * end-of-round benches inflated 2-11x by box contention with no
    * way to prove it from the artifact alone). Median of 3 so one
    * descheduling spike doesn't dominate, while sustained contention
    * -- the case worth flagging -- still shows. */
  private def canary(spark: SparkSession): Double = {
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      // modulo-sum, not id*id: sum of squares over 20M ids overflows
      // Long under ANSI mode; the modulo keeps the sum ~1e13
      spark.range(0L, 20000000L, 1L, 1)
        .selectExpr("sum(id % 1234567)").collect()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    runs(1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Runner.envSfDir
    // Inter-query GC policy, worked out from the fixture. Broadcast
    // blocks are reclaimed by ContextCleaner only after a GC collects
    // their driver references; without a forced GC, seven heavy
    // dedup/BPE queries' broadcasts were still resident when q247 ran
    // at ×100 and the heap died. But a Full GC also clears the weak
    // and soft caches every small query relies on (codegen
    // classloaders, parquet footers), a measured tax on the sf0.1
    // floor. So a big fixture collects after every query ("always");
    // a floor fixture only after a query whose measured post-GC
    // footprint reached ForceGcGb ("auto": ×100 sweeps under it ran
    // +10-16% slower on the broadcast-heavy MinHash family).
    val gcAlways = Runner.isBigFixture(sfDir)
    // (warm-up s, canary s) of each session, in run order
    val sessions = ArrayBuffer.empty[(Double, Double)]
    // Every new session is warmed before it serves a query: table
    // scans (empty block manager, cold footer caches) and the
    // streaming machinery. JIT and the codegen cache persist across
    // recycles for free. Its canary locates a contended window inside
    // a long run to within RecycleEvery queries.
    val runner = new Runner(sfDir, { spark =>
      PeakHeap.install(spark.sparkContext)
      val t0 = System.nanoTime()
      warmup(spark, sfDir)
      sessions += (((System.nanoTime() - t0) / 1e9, canary(spark)))
    })
    // per-query peak-heap observations for the SCALE.md margin table;
    // written to a target/BENCH_HEAP.json sidecar, never the stdout
    // contract.
    // Fields: (query, post-GC peak GB, peak stage, post-forced-GC
    // floor GB: -1 when the inter-query GC was skipped).
    val heapObs = ArrayBuffer.empty[(String, Double, String, Double)]
    // query -> census decisions (nDocs, nGroups, contentGrain) of its
    // latest run
    val censusObs = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[(Long, Long, Boolean)]]
    // fixture vintage marker: the documents.parquet footer-tail
    // fingerprint (BpeQueries's artifact key); regenerated fixtures
    // change it even at identical logical content
    val fixtureFp =
      try graft.operators.BpeQueries.fingerprint(runner.current, sfDir)
      catch { case _: Throwable => "unknown" }
    val only = args.toSet
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        val spark = runner.next()
        def once(): (Double, Boolean) = {
          PeakHeap.reset()
          DedupQueries.drainCensusLog() // stale entries
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true }
            catch { case _: Throwable => false }
          val dt = (System.nanoTime() - t0) / 1e9
          // this query's adaptive-grain decisions, so a grain flip is
          // visible in the bench artifact, not inferred from timing
          val censuses = DedupQueries.drainCensusLog()
          if (censuses.nonEmpty) censusObs(name) = censuses
          val (pk, st) = (PeakHeap.postGcPeakGb, PeakHeap.postGcPeakStage)
          Runner.release(spark)
          // post-forced-GC floor: what is still live once the harness
          // has collected everything collectable, the OOM-margin
          // number a saturated post-GC peak over-states
          val floor =
            if (gcAlways || PeakHeap.postGcPeakGb >= ForceGcGb) {
              System.gc()
              PeakHeap.heapUsedNowGb
            } else -1.0
          // keep the MAX observation per query across repeat runs
          val i = heapObs.indexWhere(_._1 == name)
          if (i < 0) heapObs += ((name, pk, st, floor))
          else if (pk > heapObs(i)._2) heapObs(i) = (name, pk, st, floor)
          (dt, ok)
        }
        val first = once()
        // The min is taken over successful runs only, so a crashed
        // re-run can never report a broken query as fast.
        val runs =
          if (first._1 > RepeatThresholdS || !first._2)
            first +: (2 to Repeats).map(_ => once())
          else Seq(first)
        val good = runs.filter(_._2)
        // A query with NO successful run must be unmistakable in the
        // JSON: its time is reported NEGATIVE (the min over failed
        // runs, sign-flipped) and its name goes to the "failed" list;
        // it contributes nothing to the total.
        val dt = if (good.nonEmpty) good.map(_._1).min
          else -runs.map(_._1).min
        // progress to stderr so a mid-run crash (e.g. an executor OOM
        // stopping the context) still identifies the query that died;
        // the stdout JSON contract is untouched
        System.err.println(f"[bench] $name $dt%.2f s ok=${good.nonEmpty}")
        (name, dt, good.nonEmpty)
      }
    val canaryPost = canary(runner.current)
    def fmt(v: Double, dp: Int): String = s"%.${dp}f".format(v)
    def line(dp: Int): String = {
      val qs = results.map { case (k, v, _) => "\"" + k + "\":" + fmt(v, dp) }
        .mkString("{", ",", "}")
      val total = results.collect { case (_, v, true) => v }.sum
      val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
        .mkString("[", ",", "]")
      // "value" and "sf" deliberately AFTER "queries": the harness that
      // captures this output keeps only the last ~2000 characters, so a
      // long per-query map truncates at the HEAD — trailing keys (and the
      // later queries) survive. Full-precision copy: target/BENCH_FULL.json.
      // The canary pair rides in the surviving tail: read it FIRST when
      // judging the totals (idle-box reference ~0.2s).
      s"""{"metric":"total","unit":"sec","queries":$qs,""" +
        s""""failed":$failed,"warmup_s":${fmt(sessions.head._1, dp)},""" +
        s""""canary_pre_s":${fmt(sessions.head._2, dp)},""" +
        s""""canary_post_s":${fmt(canaryPost, dp)},""" +
        // one value per recycle boundary, in run order
        sessions.tail.map(c => fmt(c._2, dp))
          .mkString("\"canary_series\":[", ",", "],") +
        // per-query adaptive-grain census decisions: [docs, distinct
        // groups, grain] per census the query ran
        censusObs.toSeq.sortBy(_._1).map { case (n, cs) =>
          "\"" + n + "\":" + cs.map { case (d, g, c) =>
            s"""[$d,$g,"${if (c) "content" else "doc"}"]"""
          }.mkString("[", ",", "]")
        }.mkString("\"census\":{", ",", "},") +
        // measurement protocol + fixture vintage, recorded IN the
        // artifact: cross-round comparisons are only like-for-like
        // when the protocol and the fixture file/row-group layout both
        // match (measured: an 18% protocol effect and a 15-50%
        // fixture-vintage effect on the slow tail). "passes" stays at
        // its one value so the object reads as before.
        s""""protocol":{"repeats":$Repeats,""" +
        s""""repeat_threshold_s":$RepeatThresholdS,""" +
        s""""passes":1,"recycle_every":${Runner.RecycleEvery},""" +
        s""""force_gc":"${if (gcAlways) "always" else "auto"}",""" +
        s""""cpus":"${Runner.cpus}"},""" +
        s""""fixture_fp":"$fixtureFp",""" +
        s""""value":${fmt(total, dp)},"sf":"$sfDir"}"""
    }
    // full-precision sidecars go under target/, the build's ignored
    // output dir: the repo root's BENCH_*.json are committed records
    def sidecar(name: String, text: String): Unit =
      try {
        val dir = java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get("target"))
        java.nio.file.Files.write(dir.resolve(name), text.getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    sidecar("BENCH_FULL.json", line(6) + "\n")
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    sidecar("BENCH_HEAP.json", heapObs.sortBy(-_._2).map {
      case (n, pk, st, fl) =>
        f"""{"query":"$n","post_gc_peak_gb":$pk%.2f,""" +
          f""""post_forced_gc_floor_gb":$fl%.2f,""" +
          f""""xmx_gb":${PeakHeap.xmxGb}%.2f,""" +
          s""""peak_stage":"${esc(st)}"}"""
    }.mkString("", "\n", "\n"))
    println(line(3))
    runner.stop()
  }
}
