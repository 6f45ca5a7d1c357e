package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.ml.PipelineModel

import graft.ml.{FoodSchema, Serve, Trainer}
import graft.serving.ApiServer
import graft.sources.Ingest
import graft.streaming.BatchWriter

/** The reference's own path end to end, then serving from what it
  * built. Seeded records sit on disk as JSON-lines files of 2,000
  * records; a file stream source feeds `BatchWriter.writeCountBatches`
  * one file per trigger; `Ingest.readCsvWithFallback` reads the batches
  * back; `Trainer.trainAll` trains the five models; `ApiServer` loads
  * them and answers `/health`. The server then takes the seeded route
  * mix: an open loop at a fixed rate, then a closed loop of `nproc`
  * clients. */
final class Pipeline(ctx: Ctx, r: Report) extends Workload {
  import Pipeline._
  import Traffic._

  private val foods = Records.all(NumRecords, ctx.seed)
  private val rng = new Random(ctx.seed ^ 0x5eedL)
  private var recordFiles: Seq[Path] = Nil
  private var batches = ""
  private var modelDir = ""
  private var server: Option[ApiServer] = None
  private var traffic: Traffic = _
  private var responses: Seq[Done] = Nil

  /** The seeded records, on disk before set-up: they are the input,
    * not work of the engine. */
  override def prepare(): Unit = {
    recordFiles = Records.writeJsonLines(foods, Paths.get(ctx.dir("records")),
      BatchRows)
    r.detail("fixture_fp") = Harness.md5(recordFiles)
    r.detail("records") = NumRecords
  }

  def measure(): Unit = {
    val spark = ctx.spark
    batches = ctx.dir("batches")
    modelDir = ctx.dir("models")
    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def stage[T](name: String)(body: => T): (T, Option[Span]) = {
      val ((v, s), sec) = Harness.timed(ctx.span(name)(body))
      stages(name) = sec
      (v, s)
    }
    val t0 = System.nanoTime()
    val (query, ingest) = stage("streaming") {
      val source = spark.readStream.schema(FoodSchema.schema)
        .option("maxFilesPerTrigger", 1)
        .json(recordFiles.head.getParent.toString)
      val q = BatchWriter.writeCountBatches(source, batches)
      q.awaitTermination()
      q
    }
    val (raw, sources) = stage("sources") {
      Ingest.readCsvWithFallback(spark, batches, FoodSchema.schema)
    }
    val (trained, train) = stage("ml.train") {
      Trainer.trainAll(raw, Seq(FoodSchema.descriptionCol), modelDir)
    }
    val (srv, load) = stage("serving.load") {
      new ApiServer(spark, modelDir).start()
    }
    server = Some(srv)
    traffic = new Traffic(s"http://localhost:${srv.boundPort}", foods)
    val (health, healthSpan) = stage("serving.health")(traffic.send(Health))
    val pipelineS = Harness.seconds(t0)

    // first calls of every route pay class loading and code generation
    traffic.deck(Warmup, new Random(ctx.seed)).foreach(traffic.send(_))
    val open = traffic.openLoop(traffic.deck(ctx.seconds * OpenRate, rng),
      OpenRate, ctx.cpus)
    // whole blocks of the mix, dealt route by route so every client gets
    // the same share of each route, then shuffled per client
    val dealt = traffic.deck(ClosedRequests, rng).sortBy(_.route).zipWithIndex
    val lists = (0 until ctx.cpus).map(c =>
      rng.shuffle(dealt.collect { case (q, i) if i % ctx.cpus == c => q }))
    val (closed, closedS) = Harness.timed(traffic.closedLoop(lists))

    responses = open.map(_._1) ++ closed
    // the four pipeline stages, then every request
    r.attempted = 4 + responses.size
    r.failed = query.exception.size + responses.count(_.code != 200)
    val expected = (1 to Trainer.NumModels)
      .map(k => k -> NumRecords.toLong * k / Trainer.NumModels).toMap
    r.check("train_slices_are_cumulative", trained == expected,
      s"got ${trained.toSeq.sorted}")
    r.check("health_after_load_reports_5_models", health.code == 200 &&
      Try(Json.parse(health.body)).toOption.exists(j =>
        j.path("overall_status").asText == "healthy" &&
          j.path("operational_models").asInt == Trainer.NumModels),
      s"${health.code} ${health.body}")

    val lat = open.map(_._1.ms)
    def group(g: String) = open.map(_._1).filter(_.req.group == g).map(_.ms)
    val (tailP, tail) = Stats.tail(lat)
    val capacity = closed.size / closedS
    r.endToEnd("work_s") = (pipelineS, "s")
    r.endToEnd("op_p50_ms") = (Stats.median(closed.map(_.ms)), "ms")
    r.endToEnd("ops_per_s") = (capacity, "1/s")
    r.named("pipeline_s") = (pipelineS, "s")
    r.named("ingest_rows_per_s") = (NumRecords / stages("streaming"), "1/s")
    val tails = Seq("predict", "lookup").map { g =>
      val xs = group(g)
      val (p, v) = Stats.tail(xs)
      r.named(s"${g}_p50_ms") = (Stats.median(xs), "ms")
      r.named(s"${g}_tail_ms") = (v, "ms")
      g -> Map("percentile" -> p, "samples" -> xs.size)
    }
    r.named("request_tail_ms") = (tail, "ms")
    r.named("closed_loop_p50_ms") = (Stats.median(closed.map(_.ms)), "ms")
    r.named("serve_capacity_rps") = (capacity, "1/s")
    val lateP99 = Stats.percentile(open.map(_._2), 99)
    r.named("generator_late_p99_ms") = (lateP99, "ms")
    r.detail("tails") = tails.toMap +
      ("all_routes" -> Map("percentile" -> tailP, "samples" -> lat.size))
    r.detail("stage_s") = stages
    r.detail("routes") = Map("open_loop" -> byRoute(open.map(_._1)),
      "closed_loop" -> byRoute(closed))

    for (t <- ctx.tracer; st <- ingest; so <- sources; tr <- train;
         lo <- load; he <- healthSpan) {
      val progress = t.triggers
      val triggerMs = progress.map(_.batchDuration.toDouble)
      r.detail("triggers_ms") = triggerMs
      r.layers("streaming.busy_s") = (st.wallS, "s")
      r.layers("streaming.triggers") = (progress.size.toDouble, "count")
      r.layers("streaming.trigger_p50_ms") = (Stats.median(triggerMs), "ms")
      r.layers("streaming.trigger_max_ms") = (triggerMs.max, "ms")
      r.layers("streaming.jobs") = (st.jobs.toDouble, "count")
      val addBatchMs = progress.map(pr =>
        Option(pr.durationMs.get("addBatch")).map(_.doubleValue).getOrElse(0.0))
      r.layers("streaming.add_batch_s") = (addBatchMs.sum / 1e3, "s")
      r.layers("streaming.trigger_overhead_s") =
        ((triggerMs.sum - addBatchMs.sum) / 1e3, "s")
      r.layers("sources.busy_s") = (so.wallS, "s")
      r.layers("ml.train_s") = (tr.wallS, "s")
      r.layers("ml.train_jobs") = (tr.jobs.toDouble, "count")
      r.layers("ml.train_tasks") = (tr.tasks.toDouble, "count")
      r.layers("ml.train_executor_run_s") = (tr.executorRunS, "s")
      r.layers("ml.train_driver_gap_s") = (tr.driverGapS, "s")
      r.layers("serving.load_s") = (lo.wallS, "s")
      r.layers("serving.generator_late_p99_ms") = (lateP99, "ms")
      val covered = Seq(st, so, tr, lo, he).map(_.wallS).sum / pipelineS
      r.detail("span_coverage") = covered
      r.check("stage_spans_cover_90pct_of_pipeline", covered >= 0.9,
        f"$covered%.3f")
    }
  }

  /** Batch files hold every record once, none over 2,000 rows; every
    * response is what its route promises. */
  override def verify(): Unit = {
    val files = {
      val s = Files.walk(Paths.get(batches))
      try s.iterator().asScala.filter { f =>
        f.getFileName.toString.endsWith(".csv") && !f.toString.contains("_checkpoint")
      }.toList finally s.close()
    }
    // one header line per file; descriptions hold no line breaks
    val rows = files.map(f => Files.lines(f).count() - 1)
    r.check("batch_rows_sum_to_records", rows.sum == NumRecords,
      s"${rows.sum} rows in ${files.size} files")
    r.check("batch_files_within_2000_rows",
      rows.nonEmpty && rows.max <= BatchRows, s"max ${rows.maxOption}")
    Traffic.verify(responses, NumRecords, models, r)
  }

  private lazy val models: Map[Int, PipelineModel] =
    (1 to Trainer.NumModels).map(k => k -> Trainer.loadModel(modelDir, k)).toMap

  /** Per-route attribution, one request at a time so each span holds
    * exactly one request's engine work; and the scoring calls behind
    * the predict routes, made directly. */
  override def traceDetail(): Unit = for (t <- ctx.tracer; _ <- server) {
    val spans = traffic.deck(AttributionRequests, new Random(ctx.seed + 1))
      .map(req => req -> t.span(req.route)(traffic.send(req))._2)
    def per(g: String)(f: Span => Double): Double = {
      val xs = spans.filter(_._1.group == g).map(s => f(s._2))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    r.layers("serving.health_p50_ms") = (Stats.median((1 to 20).map(_ =>
      t.span("health")(traffic.send(Health))._2.wallS * 1e3)), "ms")
    r.layers("serving.jobs_per_predict") = (per("predict")(_.jobs.toDouble), "count")
    r.layers("serving.jobs_per_lookup") = (per("lookup")(_.jobs.toDouble), "count")
    r.layers("serving.executor_run_ms_per_lookup") =
      (per("lookup")(_.executorRunS * 1e3), "ms")
    val sample = foods.take(200).map(_.payload)
    val localUs = sample.flatMap { p =>
      Seq(Harness.timed(Serve.localCluster(models(1), p))._2,
        Harness.timed(Serve.localEnergy(models(4), p))._2,
        Harness.timed(Serve.localProtein(models(5), p))._2)
    }.map(_ * 1e6)
    r.layers("ml.score_local_p50_us") = (Stats.median(localUs), "us")
    r.layers("ml.recommend_p50_ms") = (Stats.median(sample.take(10).map { p =>
      Harness.timed(Serve.recommend(ctx.spark, models(3),
        s"$modelDir/reco_snapshot", p).collect())._2 * 1e3
    }), "ms")
  }

  def close(): Unit = server.foreach(_.stop())
}

object Pipeline {
  /** Within the reference's 10K-50K development sample. */
  val NumRecords = 30000
  /** The reference's batch size: one input file and one trigger each. */
  val BatchRows = 2000
  val OpenRate = 10
  val ClosedRequests = 200
  val Warmup = 20
  val AttributionRequests = 40
}
