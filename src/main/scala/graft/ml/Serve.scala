package graft.ml

import java.nio.charset.StandardCharsets

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.ml.feature.{StandardScalerModel, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
import org.apache.spark.ml.regression.GBTRegressionModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The reference's serving surface (api_server/api.py:159-238), minus
  * Flask: each endpoint body as a pure function over a 1-row DataFrame.
  *
  * The one structural departure (SURVEY §2.6): recommendation top-k is
  * computed distributed over the snapshot (scan + TakeOrderedAndProject)
  * instead of the reference's collect-everything-to-driver sklearn KNN
  * (api.py:107-119) — its main scalability cliff. [[recommend]] is that
  * distributed path; [[localRecommend]] answers the same query from a
  * driver-resident [[RecoSnapshot]], bit for bit, for snapshots small
  * enough to hold (ApiServer decides by a measured size gate).
  */
object Serve {

  /** HTTP JSON payload -> 1-row DataFrame with the full numeric schema;
    * absent keys default to 0.0 (api.py:159-170). */
  def inputRow(spark: SparkSession, payload: Map[String, Double]): DataFrame = {
    val values = FoodSchema.numericCols.map(c => payload.getOrElse(c, 0.0))
    val row = Row.fromSeq(values :+ "query")
    spark.createDataFrame(
      java.util.Collections.singletonList(row), FoodSchema.schema)
  }

  /** Models 1-2: cluster id for one input (api.py:190-199). */
  def predictCluster(model: PipelineModel, input: DataFrame): Int =
    model.transform(input).select("prediction").head().getInt(0)

  /** Model 3: top-k most similar foods by cosine over the z-scaled
    * snapshot (api.py:201-212), distributed. Returns
    * (description, cosine_distance) rows, ascending distance,
    * deterministic tiebreak on description. */
  def recommend(
      spark: SparkSession,
      scalerModel: PipelineModel,
      snapshotPath: String,
      payload: Map[String, Double],
      k: Int = 5): DataFrame = {
    val probeVec = scalerModel.transform(inputRow(spark, payload))
      .select(vector_to_array(col("scaled_features")).as("pv"))
    val snapshot = spark.read.parquet(snapshotPath)
      .select(col(FoodSchema.descriptionCol),
        vector_to_array(col("scaled_features")).as("v"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.plans.VectorFunctions.dot(a, b)
    snapshot.crossJoin(broadcast(probeVec))
      .withColumn("cosine_distance",
        lit(1.0) - dot(col("v"), col("pv")) /
          (sqrt(dot(col("v"), col("v"))) * sqrt(dot(col("pv"), col("pv")))))
      .orderBy(col("cosine_distance").asc, col(FoodSchema.descriptionCol).asc)
      .limit(k)
      .select(col(FoodSchema.descriptionCol), col("cosine_distance"))
  }

  /** Model 4: energy prediction, rounded to 2 dp (api.py:214-220). */
  def predictEnergy(model: PipelineModel, input: DataFrame): Double = {
    val raw = model.transform(input).select("prediction").head().getDouble(0)
    BigDecimal(raw).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Model 5: (label, P(high-protein)) with the probability rounded to
    * 4 dp (api.py:222-230). */
  def classifyProtein(model: PipelineModel, input: DataFrame): (Double, Double) = {
    val row = model.transform(input)
      .select(col("prediction"), col("probability")).head()
    val p = row.getAs[MlVector]("probability")(1)
    (row.getDouble(0),
      BigDecimal(p).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  // -------------------------------------------------------------------
  // Driver-local scoring — no Spark job per request.
  //
  // The reference disables whole-stage codegen at serve time because
  // 1-row Spark inference is too slow (api.py:58). The Spark-native
  // answer is not to launch jobs at all for a single probe: extract the
  // fitted parameters once and evaluate on the driver. Model 3 also
  // needs its snapshot on the driver (RecoSnapshot), so it is local only
  // while the server's size gate admits it. Equality with the transform
  // path and with `recommend` is asserted in TrainerSpec; distributed
  // scoring (above) remains the batch path, the above-gate path and the
  // parity oracle.
  // -------------------------------------------------------------------

  private def stage[T](model: PipelineModel)(pf: PartialFunction[Any, T]): T =
    model.stages.collectFirst(pf).getOrElse(
      throw new IllegalArgumentException(
        s"pipeline ${model.uid} lacks expected stage"))

  /** Assemble the payload in the pipeline's own feature order. */
  private def assembled(model: PipelineModel,
      payload: Map[String, Double]): MlVector = {
    val cols = stage(model) { case a: VectorAssembler => a }.getInputCols
    Vectors.dense(cols.map(c => payload.getOrElse(c, 0.0)))
  }

  /** StandardScalerModel's exact transform with mean and std
    * (`transformWithBoth`): (x - mean) * (std == 0 ? 0 : 1/std). A
    * quotient can differ from that product in the last bit. */
  private[ml] def zscale(s: StandardScalerModel, v: MlVector): MlVector =
    Vectors.dense(Array.tabulate(v.size) { i =>
      (v(i) - s.mean(i)) * (if (s.std(i) == 0.0) 0.0 else 1.0 / s.std(i))
    })

  /** Models 1-2, local: assemble -> z-scale -> nearest centroid. */
  def localCluster(model: PipelineModel, payload: Map[String, Double]): Int = {
    val scaler = stage(model) { case s: StandardScalerModel => s }
    val kmeans = stage(model) { case k: KMeansModel => k }
    kmeans.predict(zscale(scaler, assembled(model, payload)))
  }

  /** Model 4, local: assemble -> GBT sum-of-trees, rounded 2 dp. */
  def localEnergy(model: PipelineModel, payload: Map[String, Double]): Double = {
    val gbt = stage(model) { case g: GBTRegressionModel => g }
    BigDecimal(gbt.predict(assembled(model, payload)))
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Model 5, local: (label, P(high-protein) rounded 4 dp). */
  def localProtein(model: PipelineModel,
      payload: Map[String, Double]): (Double, Double) = {
    val gbt = stage(model) { case g: GBTClassificationModel => g }
    val probs = gbt.predictProbability(assembled(model, payload))
    val label = if (probs(1) > probs(0)) 1.0 else 0.0
    (label,
      BigDecimal(probs(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  /** Model 3's snapshot on the driver: row-major scaled vectors, their
    * descriptions, and each vector's norm sqrt(v·v), computed once. */
  final class RecoSnapshot private[ml] (
      dim: Int, vectors: Array[Double], descriptions: Array[String]) {
    def size: Int = descriptions.length

    private val norms = Array.tabulate(size)(i =>
      math.sqrt(dot(vectors, i * dim, vectors, i * dim, dim)))

    /** [[recommend]]'s top-k over this snapshot for a scaled probe. */
    private[ml] def topK(probe: Array[Double], k: Int): Seq[(String, Double)] = {
      // graft_dot raises on mismatched lengths
      require(size == 0 || probe.length == dim,
        s"probe has ${probe.length} features, snapshot $dim")
      val probeNorm = math.sqrt(dot(probe, 0, probe, 0, probe.length))
      val top = new Array[Int](math.max(k, 0))
      val topDist = new Array[Double](top.length)
      var n = 0
      var i = 0
      while (i < size) {
        val den = norms(i) * probeNorm
        // Spark's Divide: an error under ANSI, NULL otherwise, and a NULL
        // distance sorts first and fails the response either way
        if (den == 0.0) throw new ArithmeticException(
          s"division by zero: zero-norm vector (snapshot row $i or probe)")
        val d = 1.0 - dot(vectors, i * dim, probe, 0, dim) / den
        if (n < top.length ||
            (n > 0 && before(d, i, topDist(n - 1), top(n - 1)))) {
          var j = math.min(n, top.length - 1)
          while (j > 0 && before(d, i, topDist(j - 1), top(j - 1))) {
            top(j) = top(j - 1); topDist(j) = topDist(j - 1); j -= 1
          }
          top(j) = i; topDist(j) = d
          if (n < top.length) n += 1
        }
        i += 1
      }
      (0 until n).map(j => descriptions(top(j)) -> topDist(j))
    }

    /** `orderBy(distance asc, description asc)`: doubles compare as
      * Spark's SQLOrderingUtil.compareDoubles (NaN last, -0.0 == 0.0),
      * strings as UTF8String does (unsigned UTF-8 bytes, i.e. code
      * points, not String.compareTo's UTF-16 units). */
    private def before(d: Double, i: Int, e: Double, j: Int): Boolean = {
      val c = if (d == e) 0 else java.lang.Double.compare(d, e)
      if (c != 0) c < 0
      else java.util.Arrays.compareUnsigned(
        descriptions(i).getBytes(StandardCharsets.UTF_8),
        descriptions(j).getBytes(StandardCharsets.UTF_8)) < 0
    }
  }

  /** graft_dot's left fold in index order, over `n` slots from offsets. */
  private def dot(a: Array[Double], aOff: Int, b: Array[Double], bOff: Int,
      n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(aOff + i) * b(bOff + i); i += 1 }
    acc
  }

  /** Collects model 3's snapshot into a [[RecoSnapshot]] (one job). */
  def loadRecoSnapshot(spark: SparkSession, snapshotPath: String): RecoSnapshot = {
    val rows = spark.read.parquet(snapshotPath)
      .select(col(FoodSchema.descriptionCol), col("scaled_features")).collect()
    val vecs = rows.map(_.getAs[MlVector](1).toArray)
    val dim = vecs.headOption.fold(0)(_.length)
    require(vecs.forall(_.length == dim), "snapshot vectors differ in length")
    new RecoSnapshot(dim, vecs.flatten, rows.map(_.getString(0)))
  }

  /** Model 3, local: [[recommend]] answered from a driver-resident
    * snapshot, without a Spark job. Bit for bit the same rows: the probe
    * is scaled as the scaler does ([[zscale]]), the distance is
    * 1 - v·p / (sqrt(v·v) * sqrt(p·p)) with graft_dot's left-fold dots,
    * and the top-k keeps the same total order. TrainerSpec and
    * ApiServerSpec hold it to [[recommend]]. */
  def localRecommend(
      scalerModel: PipelineModel,
      snapshot: RecoSnapshot,
      payload: Map[String, Double],
      k: Int = 5): Seq[(String, Double)] = {
    val scaler = stage(scalerModel) { case s: StandardScalerModel => s }
    snapshot.topK(zscale(scaler, assembled(scalerModel, payload)).toArray, k)
  }
}
