package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.schema.TransactionSchema

/** Bronze ingestion: schema-enforced CSV scan with PERMISSIVE
  * corrupt-record quarantine (reference: src/data/ingestion_pyspark.py:9-66
  * and src/data/ingestion.py:56-101).
  *
  * Spark caveat handled deliberately (SURVEY §7.5-6): a plan must not be
  * cached between the corrupt-split filters, because `_corrupt_record` is
  * only populated on the re-parsed plan. Both filters below re-read the
  * CSV — two scans, which is the documented-correct pattern.
  *
  * Engine improvement over the reference, semantics preserved: the
  * reference calls `.count()` three times on uncached DataFrames
  * (ingestion_pyspark.py:42-48 → three more scans); here each count
  * rides its own write as a named `observe` metric, so counting costs
  * no job.
  */
object BronzeIngestion {

  final case class IngestResult(cleanRows: Long, corruptRows: Long)

  /** PERMISSIVE CSV read with explicit schema + µs timestamp format
    * (reference: ingestion_pyspark.py:28-35, ingestion.py:69-74).
    */
  def readRawCsv(
      spark: SparkSession,
      path: String,
      schema: StructType = TransactionSchema.transactionSchema): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", TransactionSchema.CorruptRecordColumn)
      .option("timestampFormat", TransactionSchema.RawTimestampFormat)
      .schema(schema)
      .csv(path)

  /** Split corrupt/clean, quarantine corrupt rows (append), write bronze
    * partitioned by ingestion_date (reference: ingestion_pyspark.py:38-59).
    * Partitioning bronze by date is what makes every downstream
    * chronological filter a partition-pruned scan at scale.
    */
  def ingestToBronze(
      spark: SparkSession,
      csvPath: String,
      bronzePath: String,
      quarantinePath: String,
      format: String = "parquet"): IngestResult = {
    val corruptCol = TransactionSchema.CorruptRecordColumn

    // Each count is a named observe metric of its own write: the
    // quarantine appends across runs, so its count must come from this
    // run's rows, not from the directory, and the clean count needs no
    // re-read of the written bronze.
    val raw = readRawCsv(spark, csvPath)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (quarantined, cleaned) = (s"bronze_quarantined_$tag", s"bronze_clean_$tag")
    val corruptRows = TableIO.writeObserved(
      raw.filter(col(corruptCol).isNotNull).observe(quarantined, count(lit(1))),
      "parquet", quarantinePath, Seq(quarantined), SaveMode.Append)(quarantined)

    val clean = raw
      .filter(col(corruptCol).isNull)
      .drop(corruptCol)
      .withColumn("ingestion_date", to_date(col("timestamp")))
    val cleanRows = TableIO.writeObserved(clean.observe(cleaned, count(lit(1))),
      format, bronzePath, Seq(cleaned), SaveMode.Overwrite, Seq("ingestion_date"))(cleaned)
    IngestResult(cleanRows, corruptRows)
  }

  /** The alternate interim path: year/month-partitioned parquet with a
    * fail-closed null-amount gate (reference: src/data/ingestion.py:34-101).
    */
  def ingestToInterim(spark: SparkSession, csvPath: String, interimPath: String): Long = {
    val df = spark.read
      .option("header", "true")
      .option("timestampFormat", TransactionSchema.RawTimestampFormat)
      .schema(TransactionSchema.rawTransactionSchema)
      .csv(csvPath)

    val nullAmount = df.filter(col("amount").isNull).count()
    if (nullAmount > 0)
      throw new IllegalStateException(s"found $nullAmount rows with null amount")

    val partitioned = df
      .withColumn("year", year(col("timestamp")))
      .withColumn("month", month(col("timestamp")))
    partitioned.write.mode(SaveMode.Overwrite).partitionBy("year", "month").parquet(interimPath)
    nullAmount
  }
}
