package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** One workload run: `prepare` makes the inputs the workload only
  * reads, untimed; `setup` is timed as set-up and `measure` is the
  * timed phase. `verify` checks the timed phase's outputs after it ends,
  * and `traceDetail` runs only in traced runs, last, for per-layer
  * attribution that needs calls made one at a time. */
trait Workload {
  def prepare(): Unit = ()
  def setup(): Unit = ()
  def measure(): Unit
  def verify(): Unit = ()
  def traceDetail(): Unit = ()
  def close(): Unit
}

/** Runs one workload once and prints its result.
  *
  * Usage: perfbench.Main --workload <pipeline|registry>
  *   --seed <n> --seconds <n> --trace <0|1> --root <scratch dir>
  *   --sidecars <dir> [--fixture <dir>]
  *
  * Everything the run writes goes under --root, which the caller
  * deletes; per-query and per-route detail goes to a JSON sidecar in
  * --sidecars. The last stdout line is the result object. */
object Main {
  val Workloads = Seq("pipeline", "registry")

  /** The per-layer metrics every workload reports, in the traced run's
    * result object; each workload's own layer metrics are printed by
    * name and kept in the sidecar. */
  val SharedLayers = Seq("spark.jobs", "spark.tasks", "spark.job_p50_ms",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.driver_gap_s",
    "spark.plan_s", "spark.shuffle_mb")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = opt("--workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val trace = opt("--trace") == "1"
    val root = Paths.get(opt("--root"))
    val sidecars = Paths.get(opt("--sidecars"))
    val cpus = Runtime.getRuntime.availableProcessors

    val (spark, sessionS) = Harness.timed(Harness.session(cpus, root))
    val tracer = if (trace) Some(new Tracer(spark).attach()) else None
    val ctx = Ctx(spark, seed, seconds, cpus, root, tracer)
    val r = new Report(workload)
    val w: Workload = workload match {
      case "pipeline" => new Pipeline(ctx, r)
      case "registry" => new Registry(ctx, r, Paths.get(opt("--fixture")))
    }
    val canaryPre = Harness.canary(spark)
    try {
      w.prepare()
      val (_, setupS) = Harness.timed(w.setup())
      val heap = new HeapWatch().start()
      val (_, timed) = ctx.span("timed")(w.measure())
      val (peakMb, retainedMb) = heap.stopMb()
      w.verify()
      w.traceDetail()
      r.endToEnd("setup_s") = (sessionS + setupS, "s")
      r.endToEnd("heap_mb") = (retainedMb, "MB")
      r.named("setup_s") = r.endToEnd("setup_s")
      r.named("peak_heap_mb") = (peakMb, "MB")
      r.named("retained_heap_mb") = (retainedMb, "MB")
      r.named("fail_ratio") = (r.failRatio, "ratio")
      timed.foreach { s =>
        r.layers("spark.jobs") = (s.jobs.toDouble, "count")
        r.layers("spark.tasks") = (s.tasks.toDouble, "count")
        r.layers("spark.job_p50_ms") =
          (if (s.jobDurationsMs.isEmpty) 0.0
           else Stats.median(s.jobDurationsMs), "ms")
        r.layers("spark.executor_run_s") = (s.executorRunS, "s")
        r.layers("spark.executor_cpu_s") = (s.executorCpuS, "s")
        r.layers("spark.driver_gap_s") = (s.driverGapS, "s")
        r.layers("spark.plan_s") = (s.planS, "s")
        r.layers("spark.shuffle_mb") =
          (s.shuffleReadMb + s.shuffleWriteMb, "MB")
      }
    } finally {
      w.close()
    }
    val canaryPost = Harness.canary(spark)
    r.detail("provenance") = mutable.LinkedHashMap[String, Any](
      "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "source_fp" -> sys.props.getOrElse("perfbench.source", "unknown"),
      "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cpus,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "fixture_fp" -> r.detail.getOrElse("fixture_fp", "unknown"),
      "canary_pre_s" -> canaryPre, "canary_post_s" -> canaryPost)
    tracer.foreach(_.detach())
    spark.stop()

    if (trace) r.detail("tracing_overhead") = overhead(sidecars, r, seed)
    Files.createDirectories(sidecars)
    Files.write(sidecars.resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}.json"),
      (sidecar(r) + "\n").getBytes(StandardCharsets.UTF_8))
    print(r, trace)
  }

  private def metricMap(m: collection.Map[String, (Double, String)]) =
    m.map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }

  private def sidecar(r: Report): String = Json.enc(mutable.LinkedHashMap(
    "workload" -> r.workload,
    "end_to_end" -> metricMap(r.endToEnd),
    "named" -> metricMap(r.named),
    "per_layer" -> metricMap(r.layers),
    "checks" -> r.checks.map { case (k, (ok, info)) =>
      k -> mutable.LinkedHashMap("ok" -> ok, "info" -> info) },
    "attempted" -> r.attemptedTotal, "failed" -> r.failedTotal) ++ r.detail)

  /** (traced - untraced) / untraced for every end-to-end metric, against
    * the untraced sidecar of the same workload, same seed if present. */
  private def overhead(dir: Path, r: Report, seed: Long): Map[String, Any] = {
    val same = dir.resolve(s"${r.workload}-seed$seed-trace0.json")
    val any = scala.util.Try {
      val s = Files.list(dir)
      try s.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.matches(
          s"${r.workload}-seed-?\\d+-trace0\\.json"))
        .sortBy(p => -Files.getLastModifiedTime(p).toMillis).headOption
      finally s.close()
    }.toOption.flatten
    val base = if (Files.exists(same)) Some(same) else any
    base.map { p =>
      val j = Json.parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      Map("baseline" -> p.getFileName.toString) ++ r.endToEnd.map {
        case (k, (v, _)) =>
          val u = j.path("end_to_end").path(k).path("value").asDouble(Double.NaN)
          k -> (if (u > 0) (v - u) / u else Double.NaN)
      }
    }.getOrElse(Map("baseline" -> "none: no untraced run of this workload yet"))
  }

  private def print(r: Report, trace: Boolean): Unit = {
    val out = new StringBuilder
    out ++= s"[perfbench] ${r.workload}\n"
    def lines(title: String, m: collection.Map[String, (Double, String)]) = {
      out ++= s"  $title:\n"
      m.foreach { case (k, (v, u)) => out ++= f"    $k%-34s $v%14.4f $u\n" }
    }
    lines("metrics", r.named)
    if (trace) lines("per-layer", r.layers)
    out ++= "  checks:\n"
    r.checks.foreach { case (k, (ok, info)) =>
      out ++= s"    ${if (ok) "ok  " else "FAIL"} $k${if (ok) "" else s" ($info)"}\n"
    }
    r.detail.get("tracing_overhead").foreach(o =>
      out ++= s"  tracing overhead: ${Json.enc(o)}\n")
    val metrics =
      if (trace) r.layers.filter { case (k, _) => SharedLayers.contains(k) }
      else r.endToEnd
    out ++= Json.enc(mutable.LinkedHashMap(
      "correct" -> (r.failedTotal == 0),
      "attempted" -> math.max(r.attemptedTotal, 1L),
      "failed" -> r.failedTotal,
      "metrics" -> metricMap(metrics))) + "\n"
    System.out.print(out.toString)
    System.out.flush()
  }
}
