package graft
import java.nio.file.{Files, Paths}

import graft.core.GraftSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = GraftSession.cores(4)
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      // Plain int64 micros (not INT96) so the driver's DuckDB compare
      // reads identical timestamp values/types from our parquet dumps.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Schema tripwire (SURVEY r9 lesson): a regenerated fixture should cost
    // ONE loud diff here, not N confusing per-query failures below. Loud but
    // non-fatal — queries not touching the drifted table still dump.
    val schemaDrift = graft.sources.TestDataSchema.drift(spark, sfDir)
    if (schemaDrift.nonEmpty)
      System.err.println(
        s"[verify] TESTDATA SCHEMA DRIFT at $sfDir — ${schemaDrift.size} finding(s):\n  " +
          schemaDrift.mkString("\n  "))
    // Local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b dumps just those
    // queries. Unset (the driver's invocation) → the full contract.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
