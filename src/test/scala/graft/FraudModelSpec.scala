package graft

import java.sql.Timestamp

import scala.util.Random

import graft.ml.FraudModel

class FraudModelSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic learnable features: fraud rows have systematically higher
    * velocity/deviation, so a working train/predict path clears AUC 0.5.
    */
  private lazy val data = {
    val rng = new Random(42)
    (0 until 600).map { i =>
      val fraud = i % 10 == 0
      val bump = if (fraud) 3.0 else 0.0
      (s"t$i", new Timestamp(1700000000000L + i * 60000L), s"acct${i % 40}",
        100.0 + rng.nextDouble() * 50 + bump * 20,
        rng.nextDouble() * 100, bump + rng.nextGaussian(),
        (rng.nextInt(5) + (if (fraud) 8 else 0)), rng.nextDouble(),
        if (fraud) 1 else 0,
        (1L + rng.nextInt(3) + (if (fraud) 5 else 0)),
        bump * 50 + rng.nextGaussian() * 10, 1 + rng.nextInt(3))
    }.toDF("transaction_id", "timestamp", "sender_account", "amount",
      "time_since_last_transaction", "spending_deviation_score", "velocity_score",
      "geo_anomaly_score", "label", "velocity_1h", "avg_diff_24h", "merchant_diversity")
  }

  test("train -> evaluate -> predict -> save/load round-trip") {
    val Array(train, test) = data.randomSplit(Array(0.7, 0.3), 42L)
    val model = FraudModel.trainSimple(train, numTrees = 10, maxDepth = 4)
    val auc = FraudModel.aucOf(model, test)
    assert(auc > 0.6, s"model should learn the planted signal, got AUC $auc")

    val preds = FraudModel.predict(model, test)
    assert(preds.columns.toSeq == Seq("transaction_id", "timestamp", "sender_account",
      "amount", "label", "prediction", "probability"))
    assert(preds.count() > 0)

    val dir = "target/tmp/fraud_model_spec"
    FraudModel.save(model, dir, Map("test_auc" -> auc))
    val loaded = FraudModel.load(dir)
    val reloadedAuc = FraudModel.aucOf(loaded, test)
    assert(math.abs(reloadedAuc - auc) < 1e-9)
  }

  test("stratified downsample keeps all fraud, ~10% of non-fraud") {
    val sampled = FraudModel.downsample(data)
    val byLabel = sampled.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byLabel(1) == 60)
    assert(byLabel(0) < 150, s"negatives should be ~54, got ${byLabel(0)}")
  }

  test("downsample keeps the same rows at 1 and at 7 partitions") {
    def kept(df: org.apache.spark.sql.DataFrame): Set[String] =
      FraudModel.downsample(df).select("transaction_id").as[String].collect().toSet
    val one = kept(data.repartition(1))
    assert(one.nonEmpty)
    assert(kept(data.repartition(7)) == one)
  }

  test("full CV protocol: 3 folds x {20,50} trees x {5,10} depth, parallelism 2, seed 42") {
    val Array(train, test) = data.randomSplit(Array(0.7, 0.3), 42L)
    val cv = FraudModel.trainCV(train)
    // 4 grid points, each with an averaged 3-fold metric.
    assert(cv.avgMetrics.length == 4)
    assert(cv.getEstimatorParamMaps.length == 4)
    assert(cv.getNumFolds == 3)
    val best = cv.bestModel.asInstanceOf[org.apache.spark.ml.PipelineModel]
    val auc = FraudModel.evaluator.evaluate(best.transform(FraudModel.prepare(test)))
    assert(auc > 0.6, s"CV-selected model should learn the planted signal, got $auc")
  }
}
