package graft.tools

import graft.operators.{GatedBroadcast, PrefixPass}

/** Crossover measurement harness for SCALE.md: times each scale-shaped
  * query in BOTH its shapes — the registry's distributed shape and the
  * naive single-partition / unconditional-broadcast shape it replaces —
  * at a given sf directory, from the SAME query code.
  *
  * Shapes are flipped by session conf only:
  *   - PrefixPass queries (q94/q159/q178/q182): `graft.prefixpass.naive`
  *     = true runs every primitive as the plain window formulation
  *     (unpartitioned `Window.orderBy` → SinglePartition exchange).
  *   - GatedBroadcast queries (q135/q163): `graft.broadcast.rowLimit`
  *     = 0 pins the shuffled-join fallback; default (5M) lets the
  *     gate hint broadcast while the measured side is bounded.
  *
  * A single shape of any query is timed by `graft.Bench <query…>`.
  *
  * Usage: runMain graft.tools.ScaleBench <sfDir> [query ...]
  * Prints one JSON line per (query, shape) with min-of-2 seconds.
  */
object ScaleBench {

  private val PrefixQueries = Seq(
    "q94_ntile_buckets", "q159_skyline", "q178_abc_classes",
    "q182_rfm_segments")
  private val GatedQueries = Seq(
    "q135_copurchase_pagerank", "q163_bfs_hops")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val known = PrefixQueries ++ GatedQueries
    val names = if (args.length > 1) args.drop(1).toSeq else known
    val unknown = names.filterNot(known.contains)
    require(unknown.isEmpty, s"no crossover shapes for " +
      s"${unknown.mkString(", ")}; ScaleBench times ${known.mkString(", ")}")
    val runner = new Runner(sfDir, spark => {
      PeakHeap.install(spark.sparkContext)
      spark.range(1000000).selectExpr("sum(id)").collect()
    })
    names.foreach { name =>
      val spark = runner.next()
      // returns (min-of-2 seconds, MAX post-GC heap GB across both
      // runs, the stages live at that worst snapshot, MAX old-gen
      // after-GC GB)
      def time(): (Double, Double, String, Double) = {
        def once(): (Double, Double, String, Double) = {
          PeakHeap.reset()
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          val r = (dt, PeakHeap.postGcPeakGb, PeakHeap.postGcPeakStage,
            PeakHeap.oldGenPeakGb)
          // deterministic broadcast reclamation (see Bench's GC policy)
          Runner.release(spark); System.gc()
          r
        }
        val a = once(); val b = once()
        val live = if (a._2 >= b._2) a else b
        (math.min(a._1, b._1), live._2, live._3, math.max(a._4, b._4))
      }
      // (shipped shape, naive shape, the conf and value that select it)
      val (shipped, naive, key, value) =
        if (PrefixQueries.contains(name))
          ("twophase", "naive_window", PrefixPass.NaiveConfKey, "true")
        else ("gated_broadcast", "shuffle_join", GatedBroadcast.ConfKey, "0")
      Seq(shipped -> false, naive -> true).foreach { case (shape, flip) =>
        if (flip) spark.conf.set(key, value)
        try {
          val (dt, liveGb, liveStage, oldGb) = time()
          val st = liveStage.replace("\\", "\\\\").replace("\"", "\\\"")
          println(f"""{"query":"$name","shape":"$shape","sec":$dt%.3f,""" +
            f""""post_gc_peak_gb":$liveGb%.2f,""" +
            f""""old_gen_peak_gb":$oldGb%.2f,""" +
            f""""xmx_gb":${PeakHeap.xmxGb}%.2f,""" +
            s""""peak_stage":"$st","sf":"$sfDir"}""")
        } finally if (flip) spark.conf.unset(key)
      }
    }
    runner.stop()
  }
}
