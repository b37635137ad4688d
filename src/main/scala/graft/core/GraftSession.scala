package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory.
  *
  * Mirrors the reference runtime configuration (reference:
  * config/spark_config.py:19-38) in Spark 4 terms: adaptive execution on,
  * Kryo serializer, UTC session timezone (load-bearing for every temporal
  * derivation and the chronological split — reference:
  * config/spark_config.py:37).
  *
  * Deliberate difference: `spark.sql.shuffle.partitions` defaults to the
  * local core count instead of 200 so a `local[N]` run does not fragment
  * small shuffles into empty tasks. On a real cluster the submitter
  * overrides this (rule of thumb: 2-3x total executor cores, or rely on
  * AQE coalescing, which stays enabled here).
  */
object GraftSession {

  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Local core count for mains: `SPARK_GRAFT_CPUS` when set, else
    * `default`. A value that is not an integer throws here, before any
    * session exists or any output is written.
    */
  def cores(default: Int = Runtime.getRuntime.availableProcessors()): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** Local session with WARN logging, used by mains and tests. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 1)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
