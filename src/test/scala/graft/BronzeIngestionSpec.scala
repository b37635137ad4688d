package graft

import java.nio.file.{Files, Paths}

import graft.sources.BronzeIngestion

class BronzeIngestionSpec extends SparkSpec {

  private val root = "target/tmp/bronze_spec"

  private def writeCsv(rows: Seq[String]): String = {
    val dir = Paths.get(s"$root/raw")
    Files.createDirectories(dir)
    val header = "transaction_id,timestamp,sender_account,receiver_account,amount," +
      "transaction_type,merchant_category,location,device_used,is_fraud,fraud_type," +
      "time_since_last_transaction,spending_deviation_score,velocity_score," +
      "geo_anomaly_score,payment_channel,ip_address,device_hash"
    Files.writeString(dir.resolve("part.csv"), (header +: rows).mkString("\n"))
    dir.toString
  }

  test("PERMISSIVE ingest quarantines corrupt rows and keeps clean ones") {
    val csv = writeCsv(Seq(
      "t1,2023-05-01T10:00:00.123456,a1,a2,10.5,payment,grocery,Berlin,atm,false,,1.0,0.1,2,0.3,card,ip,d1",
      "t2,2023-05-02T11:00:00.000001,a1,a3,20.0,deposit,online,Tokyo,web,true,card_not_present,2.0,0.2,3,0.4,UPI,ip,d2",
      "t3,2023-05-02T12:00:00.000000,a2,a1,NOT_A_NUMBER,payment,grocery,Berlin,atm,false,,1.0,0.1,2,0.3,card,ip,d3",
      "garbage,row"))
    val res = BronzeIngestion.ingestToBronze(
      spark, csv, s"$root/bronze", s"$root/quarantine_${System.nanoTime()}")
    assert(res.cleanRows == 2)
    assert(res.corruptRows == 2)

    val bronze = spark.read.parquet(s"$root/bronze")
    // The observed clean count is the number of rows the write landed.
    assert(bronze.count() == res.cleanRows)
    assert(bronze.columns.contains("ingestion_date"))
    assert(!bronze.columns.contains("_corrupt_record"))
    // µs timestamp format parsed (SURVEY §7.5-5)
    val ts = bronze.filter(bronze("transaction_id") === "t1")
      .select("timestamp").collect()(0).getTimestamp(0)
    assert(ts.toString == "2023-05-01 10:00:00.123456")
  }

  test("corruptRows counts this run's quarantine rows, not earlier runs' appends") {
    val rows = Seq(
      "t1,2023-05-01T10:00:00.123456,a1,a2,10.5,payment,grocery,Berlin,atm,false,,1.0,0.1,2,0.3,card,ip,d1",
      "t3,2023-05-02T12:00:00.000000,a2,a1,NOT_A_NUMBER,payment,grocery,Berlin,atm,false,,1.0,0.1,2,0.3,card,ip,d3",
      "garbage,row")
    val quarantine = s"$root/quarantine_rerun_${System.nanoTime()}"
    Seq(1, 2).foreach { run =>
      val res = BronzeIngestion.ingestToBronze(
        spark, writeCsv(rows), s"$root/bronze_rerun", quarantine)
      assert(res.corruptRows == 2, s"run $run")
      assert(res.cleanRows == 1, s"run $run")
      // Bronze is overwritten per run, so it holds only this run's rows.
      assert(spark.read.parquet(s"$root/bronze_rerun").count() == res.cleanRows, s"run $run")
    }
    // The quarantine itself still appends: both runs' rows are kept.
    assert(spark.read.parquet(quarantine).count() == 4)
    // A run with no corrupt rows reports 0 from its own (empty) write.
    val clean = BronzeIngestion.ingestToBronze(
      spark, writeCsv(rows.take(1)), s"$root/bronze_rerun", quarantine)
    assert(clean.corruptRows == 0)
  }

  test("interim path fails closed on null amounts") {
    val csv = writeCsv(Seq(
      "t1,2023-05-01T10:00:00.000000,a1,a2,,payment,grocery,Berlin,atm,false,,1,0.1,2,0.3,card,ip,d1"))
    intercept[IllegalStateException] {
      BronzeIngestion.ingestToInterim(spark, csv, s"$root/interim")
    }
  }
}
