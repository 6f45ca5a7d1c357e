package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc warm-loop profiler: runs the named registry queries N times
  * in one warm session and prints per-iteration seconds. Used to
  * separate plan cost from first-use class-loading when a bench line
  * looks slow in isolation. */
object Prof {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("q63_ml_cumulative_train")
    val builder = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
    // conf experiments: GRAFT_PROF_CONF="k1=v1,k2=v2"
    sys.env.get("GRAFT_PROF_CONF").foreach(_.split(",").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val reps = sys.env.getOrElse("GRAFT_PROF_REPS", "3").toInt
    if (sys.env.contains("GRAFT_PROF_TRAINER")) profTrainer(spark, reps)
    else if (sys.env.contains("GRAFT_PROF_TRIVIAL")) profTrivial(spark)
    else if (sys.env.contains("GRAFT_PROF_STREAM")) profStream(spark, reps)
    else names.foreach { n =>
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sys.env.getOrElse(
          "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")).count()
        println(f"[prof] $n iter$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }

  /** Streaming fixed-cost isolation (round-9 advice #6): times the
    * MINIMAL possible AvailableNow micro-batch query (3-row
    * MemoryStream -> count -> noop sink, /dev/shm checkpoint) in a
    * warm session, next to the real q43. If the minimal query costs
    * ~the same fixed wall as q43's machinery share, the residual
    * per-query ~0.9s is StreamExecution itself (thread spawn, offset
    * WAL, incremental planning, commit log), not anything in our query
    * code. */
  private def profStream(spark: SparkSession, reps: Int): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // in-process sampling profiler for the micro-batch run: samples the
    // stream-execution thread's top frames every 10ms and prints the
    // histogram — names where the ~0.6s fixed cost actually goes
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sampler = new Thread(() => {
      while (true) {
        if (sampling.get()) {
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, frames) =>
            if (t.getName.contains("stream execution") && frames.nonEmpty) {
              val interesting = frames.find { f =>
                val c = f.getClassName
                c.startsWith("org.apache.spark") && !c.contains("Logging")
              }.getOrElse(frames.head)
              val key = s"${interesting.getClassName.split('.').last}" +
                s".${interesting.getMethodName}"
              hist.merge(key, 1, (a, b) => a + b)
            }
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true); sampler.start()
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      sampling.set(true)
      val ms = MemoryStream[Long]
      ms.addData(1L, 2L, 3L)
      val ckpt = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/dev/shm"), "graft_prof_ck_").toString
      val q = graft.streaming.StreamStart(spark, ms.toDF().groupBy().count()
        .writeStream.outputMode("complete").format("noop")
        .trigger(Trigger.AvailableNow()), ckpt)
      val tStart = System.nanoTime()
      q.awaitTermination(60000)
      val tRun = System.nanoTime()
      q.stop()
      val tStop = System.nanoTime()
      sampling.set(false)
      println(f"[prof] minimal-stream iter$i ${(tStop - t0) / 1e9}%.2f s " +
        f"(start ${(tStart - t0) / 1e9}%.2f, run ${(tRun - tStart) / 1e9}%.2f, " +
        f"stop ${(tStop - tRun) / 1e9}%.2f)")
      scala.util.Try(java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () }))
    }
    locally {
      import scala.jdk.CollectionConverters._
      val top = hist.asScala.toSeq.sortBy(-_._2).take(15)
      val total = hist.asScala.values.map(_.toInt).sum
      println(s"[prof] stream-exec samples=$total")
      top.foreach { case (k, v) => println(f"[prof]   $v%4d  $k") }
    }
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries("q43_stream_tumbling")(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")).count()
      println(f"[prof] q43 iter$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  /** Where does the per-JOB scheduling floor go? Runs
    * GRAFT_PROF_TRIVIAL trivial 1-task jobs on a warm cached RDD while
    * a 5 ms sampler records the top in-Spark frame of every non-idle
    * thread — the histogram names the floor's components (task-binary
    * broadcast, listener bus, result fetch...), which a bench line
    * cannot. Diagnostic only; no query path touches this. */
  private def profTrivial(spark: SparkSession): Unit = {
    val n = sys.env("GRAFT_PROF_TRIVIAL").toInt
    val rdd1 = spark.sparkContext.parallelize(1 to 10, 1).cache()
    rdd1.count()
    (1 to 200).foreach(_ => rdd1.count()) // warm
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val self = Thread.currentThread()
    val sampler = new Thread(() => {
      import scala.jdk.CollectionConverters._
      while (sampling.get()) {
        Thread.getAllStackTraces.asScala.foreach { case (t, frames) =>
          if ((t.getState == Thread.State.RUNNABLE || t == self) &&
              frames.nonEmpty) {
            frames.find { f =>
              val c = f.getClassName
              c.startsWith("org.apache.spark") && !c.contains("Logging")
            }.foreach { f =>
              val key = s"${t.getName.take(24)}|" +
                s"${f.getClassName.split('.').last}.${f.getMethodName}"
              hist.merge(key, 1, (a, b) => a + b)
            }
          }
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true); sampler.start()
    val t0 = System.nanoTime()
    (1 to n).foreach(_ => rdd1.count())
    val dt = (System.nanoTime() - t0) / 1e6 / n
    sampling.set(false)
    println(f"[prof] trivial-job latency $dt%.1f ms over $n jobs")
    locally {
      import scala.jdk.CollectionConverters._
      hist.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, v) =>
        println(f"[prof] $v%5d  $k")
      }
    }
  }

  /** Phase breakdown of q63's trainAll path: prep/index vs the five
    * fits vs the artifact saves. */
  private def profTrainer(spark: SparkSession, reps: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.ml.{FoodSchema, Trainer}
    def tm[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof]   $tag ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    // scheduler floor: 50 trivial 1-task jobs, warm
    val rdd1 = spark.sparkContext.parallelize(1 to 10, 1).cache()
    rdd1.count()
    val tf0 = System.nanoTime()
    (1 to 50).foreach(_ => rdd1.count())
    println(f"[prof] trivial-job latency ${(System.nanoTime() - tf0) / 50e6}%.1f ms")
    (1 to reps).foreach { i =>
      println(s"[prof] trainer iter$i")
      val raw = graft.Tables.load(spark, "/root/testdata/sf0.1", "lineitem")
        .orderBy(col("l_orderkey"), col("l_linenumber")).limit(2500)
        .select(
          col("l_quantity").as(FoodSchema.proteinCol),
          (col("l_extendedprice") / 1000.0).as(FoodSchema.energyCol),
          col("l_discount").as("Total lipid (fat)-G"),
          col("l_tax").as("Carbohydrate, by difference-G"),
          col("l_returnflag").as(FoodSchema.descriptionCol))
      val out = java.nio.file.Files.createTempDirectory("graft_prof_").toString
      val prepared = tm("prepare+label")(Trainer.withLabel(Trainer.prepare(raw)))
      val slices = tm("slices") {
        val s = Trainer.cumulativeSlices(prepared,
          Seq(FoodSchema.proteinCol, FoodSchema.energyCol))
        s.foreach(_.persist().count()); s
      }
      tm("fit m1 kmeans")(Trainer.clusteringPipeline().fit(slices(0)))
      tm("fit m3 scaler")(Trainer.scalingPipeline().fit(slices(2)))
      val m4 = tm("fit m4 gbt-reg")(Trainer.regressionPipeline().fit(slices(3)))
      val m5 = tm("fit m5 gbt-cls")(Trainer.classificationPipeline().fit(slices(4)))
      tm("save m4")(m4.write.overwrite().save(s"$out/model_4"))
      tm("save m5")(m5.write.overwrite().save(s"$out/model_5"))
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stageMs = new java.util.concurrent.atomic.AtomicLong
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          tasks.addAndGet(s.stageInfo.numTasks)
          for (a <- s.stageInfo.submissionTime; b <- s.stageInfo.completionTime)
            stageMs.addAndGet(b - a)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      tm("full trainAll")(Trainer.trainAll(raw,
        Seq(FoodSchema.proteinCol, FoodSchema.energyCol),
        java.nio.file.Files.createTempDirectory("graft_prof2_").toString))
      spark.sparkContext.removeSparkListener(listener)
      println(s"[prof]   trainAll jobs=${jobs.get} tasks=${tasks.get} " +
        s"stageMs=${stageMs.get}")
      slices.foreach(_.unpersist())
    }
  }
}
