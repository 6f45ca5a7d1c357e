package graft.ml

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.{ListenerBusDrain, SparkException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Coerce

/** Reference-parity ML semantics: coercion defaults, label rule,
  * deterministic cumulative slices, seed-pinned KMeans, artifact
  * round-trips, serve-time scoring (SURVEY §5 items 2 and 4). */
class TrainerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Dirty fixture: numeric strings, garbage, nulls, missing columns —
    * FIXTURES.md §A1 coercion rows. */
  private def dirtyFood(): DataFrame = {
    val schema = StructType(Seq(
      StructField("Protein-G", StringType),
      StructField("Energy-KCAL", StringType),
      StructField("description", StringType)))
    val rows = java.util.Arrays.asList(
      Row("25.5", "100", "beef"),
      Row("abc", "", null),
      Row(null, "50.25", "rice"))
    spark.createDataFrame(rows, schema)
  }

  test("coercion: unparseable/missing -> 0.0, null desc -> Unknown, absent cols synthesized") {
    val out = Trainer.prepare(dirtyFood())
    assert(out.columns.toSeq ==
      FoodSchema.numericCols :+ FoodSchema.descriptionCol)
    val rows = out.collect()
    val protein = rows.map(_.getDouble(0)).sorted.toSeq
    assert(protein == Seq(0.0, 0.0, 25.5)) // "abc" and null both -> 0.0
    val descs = rows.map(_.getString(17)).toSet
    assert(descs == Set("beef", "Unknown", "rice"))
    // a column absent from the input is synthesized as constant 0.0
    val zinc = out.select(col("`Zinc, Zn-MG`")).collect().map(_.getDouble(0))
    assert(zinc.forall(_ == 0.0))
  }

  test("label rule: Protein-G > 20 is high-protein") {
    val labeled = Trainer.withLabel(Trainer.prepare(dirtyFood()))
    val byDesc = labeled
      .select(col("description"), col(FoodSchema.labelCol))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byDesc("beef") == 1.0)
    assert(byDesc("rice") == 0.0)
    assert(byDesc("Unknown") == 0.0) // coerced 0.0 protein
  }

  test("cumulative slices are ordered, nested and sized k*n/5") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toDouble, s"d$i"))
      .toDF("Protein-G", "description")
    val slices = Trainer.cumulativeSlices(df, Seq("Protein-G"))
    assert(slices.map(_.count()) == Seq(20L, 40L, 60L, 80L, 100L))
    val s1 = slices(0).select("description").collect().map(_.getString(0)).toSet
    val s2 = slices(1).select("description").collect().map(_.getString(0)).toSet
    assert(s1.subsetOf(s2)) // cumulative: slice k ⊆ slice k+1
    assert(s1 == (1 to 20).map(i => s"d$i").toSet) // explicit order
  }

  private def syntheticFood(n: Int): DataFrame = {
    import spark.implicits._
    Trainer.prepare((1 to n).map { i =>
      (i % 40 + (i % 7) * 0.5, (i % 90) * 10.0, (i % 13) * 2.0,
        (i % 17) * 3.0, s"food_$i")
    }.toDF("Protein-G", "Energy-KCAL", "Total lipid (fat)-G",
      "Carbohydrate, by difference-G", "description"))
  }

  test("trainAll: 5 artifacts + snapshot, round-trip transform matches") {
    val out = java.nio.file.Files.createTempDirectory("graft_t_").toString
    val data = syntheticFood(200)
    val trained = Trainer.trainAll(data, Seq("description"), out)
    assert(trained.keySet == Set(1, 2, 3, 4, 5))
    assert(trained(5) == 200 && trained(1) == 40)
    // snapshot exists with the (description, scaled_features) shape
    val snap = spark.read.parquet(s"$out/reco_snapshot")
    assert(snap.columns.toSeq == Seq("description", "scaled_features"))
    // artifact round-trip: loaded model reproduces its own predictions
    val m1 = Trainer.loadModel(out, 1)
    val before = m1.transform(Trainer.prepare(data))
      .select("prediction").collect().map(_.getInt(0)).toSeq
    val m1b = Trainer.loadModel(out, 1)
    val after = m1b.transform(Trainer.prepare(data))
      .select("prediction").collect().map(_.getInt(0)).toSeq
    assert(before == after)
  }

  test("KMeans with pinned seed is deterministic across fits") {
    val data = syntheticFood(150)
    val a = Trainer.clusteringPipeline().fit(data).transform(data)
      .groupBy("prediction").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val b = Trainer.clusteringPipeline().fit(data).transform(data)
      .groupBy("prediction").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a.values.sum == 150)
  }

  test("classifier agrees with the label rule on clearly-separated data") {
    import spark.implicits._
    // classification features perfectly correlated with the label
    val data = Trainer.withLabel(Trainer.prepare(
      (1 to 200).map { i =>
        val hi = i % 2 == 0
        (if (hi) 30.0 else 5.0, if (hi) 50.0 else 2.0,
          if (hi) 40.0 else 1.0, s"f$i")
      }.toDF("Protein-G", "Total lipid (fat)-G",
        "Sugars, total including NLEA-G", "description")))
    val model = Trainer.classificationPipeline().fit(data)
    val agree = model.transform(data)
      .filter(col("prediction") === col(FoodSchema.labelCol)).count()
    assert(agree == 200)
  }

  test("recommend: a probe equal to a snapshot row returns it at distance ~0") {
    val out = java.nio.file.Files.createTempDirectory("graft_r_").toString
    Trainer.trainAll(syntheticFood(200), Seq("description"), out)
    // the model-3 snapshot holds the first 3/5 of rows ordered by
    // description — "food_100" sorts near the lexicographic front, so
    // it is guaranteed to be in the snapshot; use its exact features
    val i = 100
    val payload = Map(
      "Protein-G" -> (i % 40 + (i % 7) * 0.5),
      "Energy-KCAL" -> (i % 90) * 10.0,
      "Total lipid (fat)-G" -> (i % 13) * 2.0,
      "Carbohydrate, by difference-G" -> (i % 17) * 3.0)
    val top = Serve.recommend(spark, Trainer.loadModel(out, 3),
      s"$out/reco_snapshot", payload, k = 1).head()
    assert(math.abs(top.getDouble(1)) < 1e-9) // cosine distance ~ 0
    // the returned item has identical features to the probe (several
    // rows may tie at distance 0; all of them are exact matches)
    val desc = top.getString(0)
    val m = """food_(\d+)""".r.findFirstMatchIn(desc).get.group(1).toInt
    assert((m % 40 + (m % 7) * 0.5) == payload("Protein-G"))
    assert((m % 90) * 10.0 == payload("Energy-KCAL"))
  }

  test("serve: cluster id, energy regression, classification, recommend top-5") {
    val out = java.nio.file.Files.createTempDirectory("graft_s_").toString
    Trainer.trainAll(syntheticFood(200), Seq("description"), out)
    val payload = Map("Protein-G" -> 30.0, "Energy-KCAL" -> 400.0,
      "Total lipid (fat)-G" -> 10.0)
    val input = Serve.inputRow(spark, payload)
    // absent keys coerced to 0.0 (api.py:164)
    assert(input.select(col("`Zinc, Zn-MG`")).head().getDouble(0) == 0.0)
    val cluster = Serve.predictCluster(Trainer.loadModel(out, 1), input)
    assert(cluster >= 0 && cluster < Trainer.KmeansK)
    val energy = Serve.predictEnergy(Trainer.loadModel(out, 4), input)
    assert(energy == BigDecimal(energy).setScale(2,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    val (label, p) = Serve.classifyProtein(Trainer.loadModel(out, 5), input)
    assert(label == 0.0 || label == 1.0)
    assert(p >= 0.0 && p <= 1.0)
    val recs = Serve.recommend(spark, Trainer.loadModel(out, 3),
      s"$out/reco_snapshot", payload)
    val dists = recs.collect().map(_.getDouble(1)).toSeq
    assert(dists.size == 5)
    assert(dists == dists.sorted) // ascending cosine distance
  }

  test("driver-local scoring equals the Spark transform path") {
    val out = java.nio.file.Files.createTempDirectory("graft_l_").toString
    Trainer.trainAll(syntheticFood(200), Seq("description"), out)
    val m1 = Trainer.loadModel(out, 1)
    val m4 = Trainer.loadModel(out, 4)
    val m5 = Trainer.loadModel(out, 5)
    val payloads = Seq(
      Map("Protein-G" -> 30.0, "Energy-KCAL" -> 400.0,
        "Total lipid (fat)-G" -> 10.0),
      Map("Protein-G" -> 2.0),
      Map.empty[String, Double],
      Map("Protein-G" -> 45.0, "Energy-KCAL" -> 900.0,
        "Carbohydrate, by difference-G" -> 80.0))
    val m3 = Trainer.loadModel(out, 3)
    val snap = Serve.loadRecoSnapshot(spark, s"$out/reco_snapshot")
    assert(snap.size == 120)
    payloads.foreach { p =>
      val input = Serve.inputRow(spark, p)
      assert(Serve.localCluster(m1, p) == Serve.predictCluster(m1, input))
      assert(Serve.localEnergy(m4, p) == Serve.predictEnergy(m4, input))
      assert(Serve.localProtein(m5, p) == Serve.classifyProtein(m5, input))
      // exact, distances included: same rows, same bits, same order
      val distributed = Serve.recommend(spark, m3, s"$out/reco_snapshot", p)
        .collect().toSeq.map(r => r.getString(0) -> r.getDouble(1))
      assert(Serve.localRecommend(m3, snap, p) == distributed)
    }
  }

  test("zscale equals the fitted scaler's transform element for element") {
    import org.apache.spark.ml.feature.StandardScalerModel
    import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
    val out = java.nio.file.Files.createTempDirectory("graft_z_").toString
    Trainer.trainAll(syntheticFood(200), Seq("description"), out)
    val m3 = Trainer.loadModel(out, 3)
    val scaler = m3.stages.collectFirst { case s: StandardScalerModel => s }.get
    val g = new scala.util.Random(17)
    val payloads = Map.empty[String, Double] +: (1 to 24).map(_ =>
      FoodSchema.numericCols.take(6).map(_ -> g.nextDouble() * 500).toMap)
    val quotientDiffers = payloads.exists { p =>
      val x = FoodSchema.numericCols.map(p.getOrElse(_, 0.0))
      x.indices.exists(i => scaler.std(i) != 0.0 &&
        (x(i) - scaler.mean(i)) / scaler.std(i) !=
          (x(i) - scaler.mean(i)) * (1.0 / scaler.std(i)))
    }
    // the payloads can tell a quotient from the scaler's product
    assert(quotientDiffers)
    payloads.foreach { p =>
      val fitted = m3.transform(Serve.inputRow(spark, p))
        .select("scaled_features").head().getAs[MlVector](0).toArray
      val local = Serve.zscale(scaler,
        Vectors.dense(FoodSchema.numericCols.map(p.getOrElse(_, 0.0)).toArray))
        .toArray
      assert(local.length == fitted.length)
      local.indices.foreach(i => assert(local(i) == fitted(i), s"feature $i of $p"))
    }
  }

  test("a failed fit cancels the other fits; trainAll throws only once every fit has settled") {
    val sc = spark.sparkContext
    val out = java.nio.file.Files.createTempDirectory("graft_t_fail_").toString
    val data = syntheticFood(2000)
    // every job start, in order; every KMeans job is cancelled as it
    // starts, so fit 1 or fit 2 fails while the GBT fits still run
    val starts = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        starts.add(e.jobId)
        if (e.stageInfos.exists(_.name.contains("KMeans"))) sc.cancelJob(e.jobId)
      }
    }
    sc.addSparkListener(listener)
    try {
      val e = intercept[SparkException](
        Trainer.trainAll(data, Seq("description"), out))
      ListenerBusDrain(sc)
      val active = sc.statusTracker.getActiveJobIds().toSeq
      val startedAtThrow = starts.size
      assert(e.getMessage.contains("cancel"), e.getMessage)
      assert(active.isEmpty, s"jobs still running after trainAll threw: $active")
      Thread.sleep(1000)
      ListenerBusDrain(sc)
      assert(starts.size == startedAtThrow, "a job started after trainAll threw")
      // the GBT fits were cancelled, not run to completion
      Seq(4, 5).foreach(k =>
        assert(!new java.io.File(s"$out/model_$k").exists, s"model_$k was saved"))
    } finally sc.removeSparkListener(listener)
  }

  test("a failed trainAll publishes nothing: the previous complete set stays, and no staging dir is left") {
    val sc = spark.sparkContext
    val parent = java.nio.file.Files.createTempDirectory("graft_t_keep_")
    val out = parent.resolve("models").toString
    Trainer.trainAll(syntheticFood(200), Seq("description"), out)
    def listing(): Seq[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(parent)
      try s.iterator.asScala.toSeq.filter(_ != parent).map(p => p.toString ->
        java.nio.file.Files.getLastModifiedTime(p).toMillis).sorted
      finally s.close()
    }
    val before = listing()
    assert(before.exists(_._1.endsWith("/models/model_5")))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.contains("KMeans"))) sc.cancelJob(e.jobId)
    }
    sc.addSparkListener(listener)
    try intercept[SparkException](
      Trainer.trainAll(syntheticFood(2000), Seq("description"), out))
    finally sc.removeSparkListener(listener)
    // every model_<k>, food_data and reco_snapshot under out is the first
    // run's, file for file; the failed run's staging dir is gone
    assert(listing() == before)
  }
}
