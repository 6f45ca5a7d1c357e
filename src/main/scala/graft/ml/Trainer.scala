package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.GBTClassifier
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.GBTRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Coerce

/** The reference's 5-model cumulative trainer, Spark-native
  * (reference: pyspark_app/spark_model_trainer.py:177-243).
  *
  * Model k trains on the first k/5 of the data — the reference slices
  * with a bare `limit()` and admits the result is order-dependent
  * (spark_model_trainer.py:226 comment); the engine imposes an explicit
  * total order before slicing so runs are reproducible (SURVEY §7.4).
  * GBT seeds are pinned for the same reason (the reference leaves them
  * unset — spark_model_trainer.py:130,164).
  *
  * Scale note: each `fit` is a sequence of distributed jobs
  * (StandardScaler = one agg pass; KMeans/GBT = iterative); the input
  * is persisted once across the 5 slices exactly as the reference does
  * (spark_model_trainer.py:206,242).
  */
object Trainer {

  val KmeansK = 5
  val KmeansSeed = 1L
  val GbtMaxIter = 10
  val GbtSeed = 42L
  val NumModels = 5

  /** Model-id -> type name (spark_model_trainer.py:12, api.py:21-25). */
  def modelType(k: Int): String = k match {
    case 1 | 2 => "clustering"
    case 3     => "recommendation"
    case 4     => "regression"
    case 5     => "classification"
    case _     => throw new IllegalArgumentException(s"model id $k")
  }

  /** The reference's prepare_dataframe (spark_model_trainer.py:46-64):
    * coerce every schema column with defaults, synthesizing any that
    * are absent. */
  def prepare(df: DataFrame): DataFrame =
    Coerce.withDefaults(df, FoodSchema.numericCols,
      Seq(FoodSchema.descriptionCol))

  /** Conditional binary label (spark_model_trainer.py:151-153). */
  def withLabel(df: DataFrame): DataFrame =
    df.withColumn(FoodSchema.labelCol,
      when(col(s"`${FoodSchema.proteinCol}`") > FoodSchema.highProteinThreshold,
        1.0).otherwise(0.0))

  /** Models 1-2: assemble 17 features -> z-score -> KMeans(k=5, seed=1)
    * (spark_model_trainer.py:68-89). handleInvalid="skip" at train as in
    * the reference (its serve path uses "keep" — the asymmetry is
    * reproduced in Serve). */
  def clusteringPipeline(): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(FoodSchema.numericCols.toArray)
      .setOutputCol("features")
      .setHandleInvalid("skip")
    val scaler = new StandardScaler()
      .setInputCol("features").setOutputCol("scaled_features")
      .setWithMean(true).setWithStd(true)
    val kmeans = new KMeans()
      .setK(KmeansK).setSeed(KmeansSeed)
      .setFeaturesCol("scaled_features").setPredictionCol("prediction")
    new Pipeline().setStages(Array(assembler, scaler, kmeans))
  }

  /** Model 3: assemble + scale only — the recommendation snapshot
    * pipeline (spark_model_trainer.py:91-110). */
  def scalingPipeline(): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(FoodSchema.numericCols.toArray)
      .setOutputCol("features")
      .setHandleInvalid("skip")
    val scaler = new StandardScaler()
      .setInputCol("features").setOutputCol("scaled_features")
      .setWithMean(true).setWithStd(true)
    new Pipeline().setStages(Array(assembler, scaler))
  }

  /** Model 4: GBT regression of Energy-KCAL on 3 macro-nutrients
    * (spark_model_trainer.py:116-142). */
  def regressionPipeline(): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(FoodSchema.regressionFeatures.toArray)
      .setOutputCol("features")
      .setHandleInvalid("skip")
    val gbt = new GBTRegressor()
      .setLabelCol(FoodSchema.energyCol).setFeaturesCol("features")
      .setMaxIter(GbtMaxIter).setSeed(GbtSeed)
    new Pipeline().setStages(Array(assembler, gbt))
  }

  /** Model 5: GBT binary classification of is_high_protein
    * (spark_model_trainer.py:144-173). */
  def classificationPipeline(): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(FoodSchema.classificationFeatures.toArray)
      .setOutputCol("features")
      .setHandleInvalid("skip")
    val gbt = new GBTClassifier()
      .setLabelCol(FoodSchema.labelCol).setFeaturesCol("features")
      .setMaxIter(GbtMaxIter).setSeed(GbtSeed)
    new Pipeline().setStages(Array(assembler, gbt))
  }

  /** Name of the global-row-index column added by [[indexByOrder]];
    * dropped before any training slice is returned, but kept in the
    * `food_data` serving artifact, where it doubles as the stable
    * record id the README detail route looks up by. */
  private[graft] val RnCol = "__graft_rn"

  /** Attach a contiguous 0-based Long row index under the explicit
    * total order. Returns an eagerly MATERIALIZED frame (persisted
    * indexed RDD) plus a release hook — callers slice the frame
    * without re-running the sort, then call the hook to free the
    * block-manager storage (idempotent; unreleased storage is
    * eventually reclaimed by ContextCleaner once the RDD is GC'd, but
    * explicit release is what keeps repeated training runs from
    * accumulating blocks).
    *
    * Scale path: the sorted rows are cached BEFORE `zipWithIndex`,
    * because ZippedWithIndexRDD eagerly runs a count job to compute
    * per-partition offsets — uncached, that job plus the downstream
    * materialization would each execute the reduce-side sort. So: one
    * range-partitioned sort (`orderBy` — never a single-partition
    * `Window.orderBy`), one cached count pass, one indexing pass. The
    * index is a Long, so — unlike the previous `limit()`-based
    * slicing — nothing here is bounded by Int.MaxValue rows. */
  private[ml] def indexByOrder(
      df: DataFrame, orderCols: Seq[String]): (DataFrame, () => Unit) = {
    val (frame, release, _) = indexByOrderN(df, orderCols, 0L)
    (frame, release)
  }

  /** [[indexByOrder]] that also returns the row count (free — the sort
    * is materialized by a count) and, when `rowsPerPartition` > 0,
    * right-sizes the indexed frame's partition count to the data with
    * a shuffle-free `coalesce` INSTEAD of the former post-hoc
    * `repartition` pass. Once the index column is attached, row
    * placement no longer matters (slices filter on [[RnCol]]), so the
    * coalesce's arbitrary grouping of parent partitions is safe — and
    * it saves one full shuffle + materialization per training run,
    * which at local job-latency floors is a measurable slice of the
    * q63 bench line. */
  private[ml] def indexByOrderN(
      df: DataFrame, orderCols: Seq[String],
      rowsPerPartition: Long): (DataFrame, () => Unit, Long) = {
    val ordered = df.orderBy(orderCols.map(col): _*)
    val schema = org.apache.spark.sql.types.StructType(
      ordered.schema.fields :+ org.apache.spark.sql.types.StructField(
        RnCol, org.apache.spark.sql.types.LongType, nullable = false))
    val sortedRdd = ordered.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one job: materialize the range-partitioned sort AND learn n
      val n = sortedRdd.count()
      // zipWithIndex's internal per-partition-size job reads the
      // cached sort blocks (cheap); the map attaches the global index
      val indexed0 = sortedRdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      }
      val indexedRdd = (if (rowsPerPartition > 0) {
        val parts = math.max(1, math.min(sortedRdd.getNumPartitions,
          (n / rowsPerPartition + 1L).toInt))
        indexed0.coalesce(parts)
      } else indexed0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      indexedRdd.count() // eager: materialize while the sort is cached
      val frame = df.sparkSession.createDataFrame(indexedRdd, schema)
      (frame, () => indexedRdd.unpersist(false): Unit, n)
    } finally sortedRdd.unpersist(false)
  }

  /** Deterministic cumulative slices: slice k holds the first
    * floor(k*n/total) rows under an explicit total order
    * (spark_model_trainer.py:208-226, made reproducible).
    *
    * Single-pass: the input is sorted and indexed ONCE
    * ([[indexByOrder]], materialized eagerly so all slices see the
    * same index) and each slice is a cheap `rn < bound` filter —
    * versus the previous formulation's one global sort + `limit()`
    * per slice. The second element is the storage-release hook: call
    * it once the slices are consumed (the slices read the released
    * blocks lazily, so release AFTER the last action over them;
    * un-released storage falls back to ContextCleaner on GC). */
  def cumulativeSlicesReleasable(
      df: DataFrame,
      orderCols: Seq[String],
      total: Int = NumModels): (Seq[DataFrame], () => Unit) = {
    val (indexed, release) = indexByOrder(df, orderCols)
    val n = indexed.count()
    ((1 to total).map(k =>
      indexed.filter(col(RnCol) < lit(n * k / total)).drop(RnCol)),
      release)
  }

  /** [[cumulativeSlicesReleasable]] without the hook — storage is
    * reclaimed by ContextCleaner once the returned frames are GC'd. */
  def cumulativeSlices(
      df: DataFrame,
      orderCols: Seq[String],
      total: Int = NumModels): Seq[DataFrame] =
    cumulativeSlicesReleasable(df, orderCols, total)._1

  /** The full reference training run: prepare, label, persist, 5
    * cumulative slices, one model per slice, artifacts saved under
    * `outDir/model_<k>` (+ `outDir/reco_snapshot` parquet for model 3,
    * and the `outDir/food_data` serving frame). Slices smaller than
    * `minRows` are skipped, mirroring the reference's count gates
    * (spark_model_trainer.py:72,121,158). Returns the per-model row
    * counts actually trained on.
    *
    * The whole set is staged in one dir and replaces `outDir` through
    * one [[graft.streaming.MarkerProtocol]] publish, so a failed run
    * leaves the previous set (or none), never a partial set that looks
    * trained. One trainer writes a given `outDir` at a time.
    */
  def trainAll(
      raw: DataFrame,
      orderCols: Seq[String],
      outDir: String,
      minRows: Long = 10): Map[Int, Long] = {
    // MLlib fits are iterative (tens of tiny jobs); right-size the
    // cached training frame's partition count to the data so per-task
    // scheduling overhead doesn't dominate tiny fits. The sizing
    // happens INSIDE the indexing pass (shuffle-free coalesce after
    // the index is attached — see indexByOrderN), not as a post-hoc
    // repartition: that saves one full shuffle + materialization +
    // two count jobs per run, which at the measured ~23ms/job local
    // scheduling floor was a visible slice of the q63 bench line.
    val (indexed, releasePrepared, n) = indexByOrderN(
      withLabel(prepare(raw)), orderCols, rowsPerPartition = 4096L)
    var trained = Map.empty[Int, Long]
    try graft.streaming.MarkerProtocol.publish(raw.sparkSession, outDir,
        overwrite = true) { staged =>
      val dir = staged.toString
      // The 5 fits are independent seeded pipelines over nested slices
      // of the SAME cached frame: run them concurrently (the
      // CrossValidator-parallelism pattern). Each fit is a chain of
      // tiny jobs whose cost is per-job scheduling latency, so
      // overlapping them collapses wall time without changing any
      // result — every pipeline is seeded and fit in isolation. The
      // scope settles every fit before releasePrepared() unpersists.
      trained = graft.operators.Overlap.scope { o =>
        // data-plane artifact: the indexed frame the slices are cut
        // from, persisted so the serving layer (ApiServer's README
        // routes /stats, /find_allergen, /food_details) can serve the
        // EXACT per-model cumulative slices (rn < n*k/5) after training
        val dataWrite = o.fork {
          indexed.write.mode("overwrite").parquet(s"$dir/food_data")
        }
        val fits = (1 to NumModels).flatMap { k =>
          // contiguous 0-based index => filter(rn < b) has exactly b
          // rows; no per-slice count() jobs needed
          val nRows = n * k / NumModels
          if (nRows < minRows) None
          else Some(o.fork {
            val slice = indexed.filter(col(RnCol) < lit(nRows)).drop(RnCol)
            k match {
              case 1 | 2 =>
                clusteringPipeline().fit(slice)
                  .write.overwrite().save(s"$dir/model_$k")
              case 3 =>
                val pm = scalingPipeline().fit(slice)
                pm.write.overwrite().save(s"$dir/model_$k")
                pm.transform(slice)
                  .select(col(FoodSchema.descriptionCol),
                    col("scaled_features"))
                  .write.mode("overwrite")
                  .parquet(s"$dir/reco_snapshot")
              case 4 =>
                regressionPipeline().fit(slice)
                  .write.overwrite().save(s"$dir/model_$k")
              case 5 =>
                classificationPipeline().fit(slice)
                  .write.overwrite().save(s"$dir/model_$k")
            }
            k -> nRows
          })
        }
        dataWrite.join
        fits.map(_.join).toMap
      }
      true
    } finally releasePrepared()
    trained
  }

  def loadModel(dir: String, k: Int): PipelineModel =
    PipelineModel.load(s"$dir/model_$k")
}
