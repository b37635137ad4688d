package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Thin format-abstracted table IO (reference reads/writes Delta,
  * reference: src/data/silver.py:28,52-59; Parquet locally — see
  * PipelineConfig). Keeping reads/writes behind one seam is what lets the
  * same pipeline run on Delta/Iceberg in a cluster deployment without
  * touching operator code.
  */
object TableIO {

  def read(spark: SparkSession, format: String, path: String): DataFrame =
    spark.read.format(format).load(path)

  def write(
      df: DataFrame,
      format: String,
      path: String,
      mode: SaveMode = SaveMode.Overwrite,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.format(format).mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
  }

  /** [[write]] that returns the one-count metrics `names` that `df`'s
    * named `observe` nodes recorded in that write, so a row count costs
    * no job of its own.
    * Read through a query listener, not an `Observation`: an
    * Observation starts the session's ObservationManager, which is not
    * serializable, and from then on every task closure that captures
    * the session fails (a RandomForest model's training summary holds
    * it, so `FraudModel` predictions broke).
    */
  private[graft] def writeObserved(
      df: DataFrame,
      format: String,
      path: String,
      names: Seq[String],
      mode: SaveMode,
      partitionBy: Seq[String] = Nil): Map[String, Long] = {
    val seen = scala.concurrent.Promise[Map[String, Long]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = {
        val m = qe.observedMetrics
        if (names.forall(m.contains)) seen.trySuccess(names.map(n => n -> m(n).getLong(0)).toMap)
      }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    df.sparkSession.listenerManager.register(listener)
    try {
      write(df, format, path, mode, partitionBy)
      scala.concurrent.Await.result(seen.future, scala.concurrent.duration.Duration.Inf)
    } finally df.sparkSession.listenerManager.unregister(listener)
  }

  /** Bucketed external table write: both sides of a repeated equi-join
    * bucketed (+sorted) into the same bucket count on the join key join
    * with ZERO shuffle exchanges afterwards — pay the partitioning once
    * at write, never per query (asserted at plan level in BucketingSpec).
    * The 100 TB strategy for fact-dim joins that recur across a pipeline.
    */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      path: String,
      buckets: Int,
      bucketCols: Seq[String],
      format: String = "parquet"): Unit =
    df.write.format(format).mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", path)
      .saveAsTable(tableName)

  /** Loader for the driver-generated testdata tables (TESTDATA.md).
    *
    * `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (which Spark 4
    * rejects unless read as long) and plain `timestamp[us]` (which Spark 4
    * loads as TIMESTAMP_NTZ when `isAdjustedToUTC=false`). The fixture can be
    * regenerated between rounds, so adapt to the *loaded* type rather than
    * assuming a physical encoding:
    *   - LongType      → nanos-as-long shim: truncate to µs TimestampType
    *                     (truncation is monotone; window arithmetic in this
    *                     engine is second-granularity anyway, SURVEY §2.5)
    *   - TimestampType → already the domain the queries assume; pass through
    *   - anything else (TIMESTAMP_NTZ, string, …) → cast to session-UTC
    *     TimestampType (GraftSession pins the session TZ to UTC, so an NTZ
    *     wall-clock reads as the same instant the nanos shim produced)
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Normalize the `ts` column of an events-shaped frame to TimestampType
    * regardless of the physical parquet encoding it was loaded from.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) loaded via nanosAsLong
        df.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
}
