package graft.app

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.core.{GraftSession, PipelineConfig}
import graft.ml.FraudModel
import graft.operators.{BehavioralFeatures, GoldAggregations, SilverTransform}
import graft.quality.CheckSuite
import graft.sources.{BronzeIngestion, TableIO}

/** End-to-end orchestrator (reference: run_pipeline.py:12-77): bronze ->
  * silver -> features -> gold -> (train out-of-band) -> batch inference.
  * State passes through storage between steps, exactly as in the
  * reference — each step is independently re-runnable, which is what you
  * want when step 3 of a 100 TB run fails at hour six.
  */
object RunPipeline {

  def run(spark: SparkSession, cfg: PipelineConfig, train: Boolean = true): Unit = {
    // Step 1 — bronze (reference: run_pipeline.py:34)
    BronzeIngestion.ingestToBronze(spark, cfg.rawCsv, cfg.bronze, cfg.quarantine, cfg.format)

    // Step 2 — silver + quality gate + chronological split (run_pipeline.py:38)
    val silver = SilverTransform.transform(TableIO.read(spark, cfg.format, cfg.bronze))
    CheckSuite.requirePass(silver, CheckSuite.silverSuite)
    val (trainDf, testDf) = SilverTransform.chronoSplit(silver, cfg.splitTimestamp)
    TableIO.write(trainDf, cfg.format, cfg.silver("train"))
    TableIO.write(testDf, cfg.format, cfg.silver("test"))

    // Step 3 — behavioral features per split, AFTER splitting (leakage-free,
    // reference: build_features.py:16-23). cfg.blockedFeatures swaps in the
    // skew-proof blocked windows — same values (bit-identical, pinned in
    // PipelineE2ESpec and by the q_features_blocked oracle), different
    // shuffle shape for hot-key corpora.
    for (split <- Seq("train", "test")) {
      val silver = TableIO.read(spark, cfg.format, cfg.silver(split))
      val feats =
        if (cfg.blockedFeatures) BehavioralFeatures.addFeaturesBlocked(silver)
        else BehavioralFeatures.addFeatures(silver)
      TableIO.write(feats, cfg.format, cfg.features(split))
    }

    // Step 4 — gold aggregations (run_pipeline.py:46)
    val silverAll = TableIO.read(spark, cfg.format, cfg.silver("train"))
      .unionByName(TableIO.read(spark, cfg.format, cfg.silver("test")))
    TableIO.write(GoldAggregations.dailyFraudSummary(silverAll), cfg.format, cfg.goldDaily)
    TableIO.write(GoldAggregations.hourlyPatterns(silverAll), cfg.format, cfg.goldHourly)

    // Optional mart export: gold summaries to an RDBMS for downstream
    // consumers (reference gold.py's role). Aggregate-sized writes.
    cfg.jdbcMartUrl.foreach { url =>
      graft.sources.JdbcIO.write(
        TableIO.read(spark, cfg.format, cfg.goldDaily), url, "mart_daily_fraud_summary")
      graft.sources.JdbcIO.write(
        TableIO.read(spark, cfg.format, cfg.goldHourly), url, "mart_hourly_patterns")
    }

    // Step 5 — train (out-of-band in the reference, README.md:77) + inference
    if (train) {
      val trainFeats = TableIO.read(spark, cfg.format, cfg.features("train"))
      val testFeats = TableIO.read(spark, cfg.format, cfg.features("test"))
      val model = FraudModel.trainSimple(trainFeats)
      val auc = FraudModel.aucOf(model, testFeats)
      FraudModel.save(model, cfg.modelDir, Map("test_auc" -> auc))
      val preds = FraudModel.predict(model, testFeats)
      preds.write.format(cfg.format).mode(SaveMode.Overwrite).save(cfg.predictions)
    }
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("target/pipeline")
    val spark = GraftSession.local(GraftSession.cores())
    try run(spark, PipelineConfig(root))
    finally spark.stop()
  }
}
