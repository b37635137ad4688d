package graft.ml

import java.nio.file.{Files, Paths}

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.TrainingData

/** Fraud-model train / batch-inference (reference: src/models/train.py and
  * src/models/predict.py).
  *
  * MLflow is not available offline (SURVEY §7.1); model persistence is
  * native `PipelineModel.save/load` plus a local JSON run-registry holding
  * params + metrics — protocol parity, not MLflow emulation.
  */
object FraudModel {

  /** Feature columns (reference: train.py:40-45). */
  val FeatureCols: Seq[String] = Seq(
    "amount", "time_since_last_transaction", "spending_deviation_score",
    "velocity_score", "geo_anomaly_score",
    "velocity_1h", "avg_diff_24h", "merchant_diversity")

  /** Behavioral features zero-filled before assembly (reference: train.py:32-33). */
  val ZeroFillCols: Seq[String] = Seq("velocity_1h", "avg_diff_24h", "merchant_diversity")

  def prepare(df: DataFrame): DataFrame = df.na.fill(0, ZeroFillCols)

  /** Stratified downsample: keep all fraud and 10% of non-fraud; the
    * fractions come from train.py:37. The keep is an md5 of
    * (`transaction_id`, salt) through [[TrainingData.mixtureSample]], so
    * the same rows are kept at any partitioning, which the reference's
    * per-partition seeded `sampleBy` is not. Row-local, no shuffle.
    */
  def downsample(df: DataFrame): DataFrame =
    TrainingData.mixtureSample(
        df.withColumn("__label", col("label").cast("string")),
        "transaction_id", "__label", Map("0" -> 0.1, "1" -> 1.0), defaultFrac = 0.0)
      .drop("__label")

  /** Assembler -> scaler -> RF pipeline (reference: train.py:40-50). */
  def buildPipeline(numTrees: Int = 20, maxDepth: Int = 5): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(FeatureCols.toArray)
      .setOutputCol("raw_features")
      .setHandleInvalid("skip")
    val scaler = new StandardScaler()
      .setInputCol("raw_features")
      .setOutputCol("features")
      .setWithStd(true)
      .setWithMean(true)
    val rf = new RandomForestClassifier()
      .setLabelCol("label")
      .setFeaturesCol("features")
      .setNumTrees(numTrees)
      .setMaxDepth(maxDepth)
      .setSeed(42L)
    new Pipeline().setStages(Array(assembler, scaler, rf))
  }

  def evaluator: BinaryClassificationEvaluator =
    new BinaryClassificationEvaluator()
      .setLabelCol("label")
      .setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")

  /** Single fit without grid search — the cheap path for tests/smoke. */
  def trainSimple(train: DataFrame, numTrees: Int = 20, maxDepth: Int = 5): PipelineModel =
    buildPipeline(numTrees, maxDepth).fit(prepare(downsample(train)))

  /** Full protocol: 3-fold CV over numTrees {20,50} x maxDepth {5,10},
    * parallelism 2, seed 42 (reference: train.py:53-67).
    * Kept without a pipeline caller: it is the reference's CV protocol.
    */
  def trainCV(train: DataFrame): CrossValidatorModel = {
    val pipeline = buildPipeline()
    val rf = pipeline.getStages(2).asInstanceOf[RandomForestClassifier]
    val grid = new ParamGridBuilder()
      .addGrid(rf.numTrees, Array(20, 50))
      .addGrid(rf.maxDepth, Array(5, 10))
      .build()
    new CrossValidator()
      .setEstimator(pipeline)
      .setEvaluator(evaluator)
      .setEstimatorParamMaps(grid)
      .setNumFolds(3)
      .setParallelism(2)
      .setSeed(42L)
      .fit(prepare(downsample(train)))
  }

  def aucOf(model: PipelineModel, test: DataFrame): Double =
    evaluator.evaluate(model.transform(prepare(test)))

  /** Batch inference projection (reference: predict.py:36-44). */
  def predict(model: PipelineModel, df: DataFrame): DataFrame =
    model.transform(prepare(df))
      .select("transaction_id", "timestamp", "sender_account", "amount",
        "label", "prediction", "probability")

  /** Native persistence + JSON run-registry (MLflow replacement). */
  def save(model: PipelineModel, dir: String, metrics: Map[String, Double]): Unit = {
    model.write.overwrite().save(s"$dir/model")
    val json = metrics.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/registry.json"), json)
  }

  def load(dir: String): PipelineModel = PipelineModel.load(s"$dir/model")
}
