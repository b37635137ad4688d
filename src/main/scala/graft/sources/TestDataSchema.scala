package graft.sources

import org.apache.spark.sql.SparkSession

/** Tripwire for driver-regenerated testdata (TESTDATA.md).
  *
  * Round 9 lost 39/135 contract queries to a silent fixture regeneration:
  * `events.ts` changed physical parquet encoding (TIMESTAMP(NANOS) →
  * timestamp[us]) and every events reader failed with the same
  * DATATYPE_MISMATCH, 39 separate times. This check turns the next such
  * drift into ONE loud, diff-shaped failure at suite/Verify start.
  *
  * Expectations are over the schema AS LOADED through [[TableIO.table]]
  * (i.e. after the events `ts` normalization), against the fixture state
  * of 2026-08-13. Temporal columns accept either TIMESTAMP or
  * TIMESTAMP_NTZ — both flavors have shipped, both are handled by the
  * engine and the DuckDB oracle — but a temporal column surfacing as
  * BIGINT (an unhandled nanos encoding) or anything else fails here with
  * the exact actual-vs-expected pair instead of dozens of analysis errors
  * downstream.
  */
object TestDataSchema {

  private val I = Set("INT")
  private val L = Set("BIGINT")
  private val D = Set("DOUBLE")
  private val S = Set("STRING")
  private val T = Set("TIMESTAMP", "TIMESTAMP_NTZ") // either flavor is fine
  private val AF = Set("ARRAY<FLOAT>")

  /** table -> ordered (column, acceptable `DataType.sql` spellings). */
  val expected: Seq[(String, Seq[(String, Set[String])])] = Seq(
    "region" -> Seq("r_regionkey" -> I, "r_name" -> S),
    "nation" -> Seq("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I),
    "customer" -> Seq(
      "c_custkey" -> L, "c_name" -> S, "c_nationkey" -> I,
      "c_acctbal" -> D, "c_mktsegment" -> S),
    "supplier" -> Seq(
      "s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> I, "s_acctbal" -> D),
    "part" -> Seq(
      "p_partkey" -> L, "p_name" -> S, "p_brand" -> S, "p_type" -> S,
      "p_size" -> I, "p_retailprice" -> D),
    "orders" -> Seq(
      "o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S,
      "o_totalprice" -> D, "o_orderdate" -> T, "o_orderpriority" -> S),
    "lineitem" -> Seq(
      "l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L,
      "l_linenumber" -> I, "l_quantity" -> D, "l_extendedprice" -> D,
      "l_discount" -> D, "l_tax" -> D, "l_returnflag" -> S,
      "l_linestatus" -> S, "l_shipdate" -> T),
    "events" -> Seq(
      "event_id" -> L, "ts" -> Set("TIMESTAMP"), // post-normalizeEventTs
      "user_id" -> L, "event_type" -> S, "value" -> D, "props" -> S),
    "documents" -> Seq(
      "doc_id" -> L, "text" -> S, "lang" -> S, "source" -> S, "n_chars" -> L),
    "embeddings" -> Seq("vec_id" -> L, "embedding" -> AF, "label" -> I))

  /** All drift findings for `sfDir`, empty when the fixtures match.
    * Each finding is one human-readable line (table.column: expected vs
    * actual, or a column-set mismatch).
    */
  def drift(spark: SparkSession, sfDir: String): Seq[String] =
    expected.flatMap { case (table, cols) =>
      try {
        val actual = TableIO.table(spark, sfDir, table)
          .schema.fields.map(f => f.name -> f.dataType.sql).toSeq
        val actualNames = actual.map(_._1)
        val expNames = cols.map(_._1)
        val nameDiff =
          if (actualNames == expNames) Nil
          else Seq(s"$table: columns ${actualNames.mkString("[", ",", "]")} " +
            s"!= expected ${expNames.mkString("[", ",", "]")}")
        val actualByName = actual.toMap
        val typeDiff = cols.collect {
          case (name, ok) if actualByName.contains(name) && !ok(actualByName(name)) =>
            s"$table.$name: loaded as ${actualByName(name)}, " +
              s"expected one of ${ok.mkString("{", ",", "}")}"
        }
        nameDiff ++ typeDiff
      } catch {
        case e: Throwable => Seq(s"$table: failed to load from $sfDir: ${e.getMessage}")
      }
    }
}
