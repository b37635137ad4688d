package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-source CORPUS DATA CARD — the one-table summary a curation
  * review starts from (the "datasheet" numbers every corpus release
  * publishes): volume, token statistics, lexical diversity, duplication
  * and LM-fit per source, in LONG format (source, metric, value) so new
  * metrics append without schema churn and the table pivots trivially.
  *
  * Metrics:
  *   - `n_docs`, `total_tokens`, `total_chars`, `mean_doc_tokens`
  *   - `vocab_size`, `ttr` (type-token ratio — lexical diversity;
  *     collapses toward 0 on TEMPLATE/boilerplate-heavy sources)
  *   - `dup_doc_frac`: share of the source's docs whose normalized
  *     fingerprint occurs more than once CORPUS-WIDE (cross-source
  *     duplication shows up in both sources — that is the point)
  *   - `mean_surprisal`: mean per-doc self-LM surprisal
  *     ([[CorpusStats.surprisal]]) — gibberish scores high,
  *     degenerate repetition low
  *
  * Scale shape: three keyed aggregations (per-source token stats, a
  * fingerprint census + semi-marked rejoin, the surprisal pipeline) over
  * doc-grain rows, one final per-source fold, and a row-local melt.
  * Nothing collects; the report is `n_sources × n_metrics` rows.
  */
object CorpusReport {

  val Metrics: Seq[String] = Seq(
    "n_docs", "total_tokens", "total_chars", "mean_doc_tokens",
    "vocab_size", "ttr", "dup_doc_frac", "mean_surprisal")

  def dataCard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String): DataFrame = {
    val base = df.select(
      col(idCol).as("doc_id"),
      col(sourceCol).as("source"),
      col(textCol).as("text"),
      graft.functions.TextFunctions.fingerprint(col(textCol)).as("__fp"),
      graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long").as("__nt"),
      length(col(textCol)).cast("long").as("__nc"))

    // corpus-wide duplicated fingerprints -> per-doc dup flag
    val dupFps = base.groupBy(col("__fp")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select("__fp")
    val flagged = base.join(dupFps.withColumn("__dup", lit(1L)), Seq("__fp"), "left")
      .withColumn("__dup", coalesce(col("__dup"), lit(0L)))

    val surprisal = CorpusStats.surprisal(df, idCol, textCol)
      .select(col(idCol).as("doc_id"), col("avg_surprisal"))

    // per-source distinct-token vocabulary
    val vocab = base
      .select(col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(countDistinct(col("tok")).as("vocab_size"))

    val perSource = flagged
      .join(surprisal, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        sum(col("__nc")).as("total_chars"),
        round(sum(col("__nt")).cast("double") / count(lit(1)), 6)
          .as("mean_doc_tokens"),
        round(sum(col("__dup")).cast("double") / count(lit(1)), 6)
          .as("dup_doc_frac"),
        // avg_surprisal is already on the 6dp grid — exact decimal sum
        // over it, cast once, one scalar division: order-free in both
        // engines where avg(double) is not (r14 portability sweep).
        round(sum(col("avg_surprisal").cast("decimal(18,6)")).cast("double")
          / count(col("avg_surprisal")), 6).as("mean_surprisal"))
      .join(vocab, Seq("source"))
      .withColumn("ttr",
        round(col("vocab_size").cast("double") / col("total_tokens"), 6))

    // melt to long format — one row-local explode, metric order fixed
    perSource
      .select(col("source"),
        explode(array(Metrics.map(m =>
          struct(lit(m).as("metric"), col(m).cast("double").as("value"))): _*)).as("kv"))
      .select(col("source"), col("kv.metric").as("metric"), col("kv.value").as("value"))
  }

  /** Per-source document-length quantiles by k-th ORDER STATISTIC
    * (k = ceil(q·n), never an interpolated percentile — the house
    * cross-engine rule: one IEEE multiply + ceil is bit-reproducible
    * where interpolation conventions are not). The batching/packing
    * planner reads this table to size windows and budgets per source.
    *
    * `exact = true` (the oracle contract) ranks doc-summary rows per
    * source — one window over one row per document. `exact = false`
    * replaces the sort with a percentile_approx sketch (map-side
    * O(accuracy) state, no per-doc shuffle) for corpora where even the
    * doc-grain sort is unwelcome; sketch values are exact while a
    * source's doc count stays under the accuracy parameter.
    */
  def lengthQuantiles(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
      exact: Boolean = true): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    val base = df.select(
      col(sourceCol).as("source"),
      col(idCol).as("doc_id"),
      graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long").as("nt"))
    def colName(q: Double) = "p" + (q * 100).round.toString
    if (exact) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      val ranked = base
        .withColumn("__rn", row_number().over(w.orderBy(col("nt"), col("doc_id"))))
        .withColumn("__n", count(lit(1)).over(w))
      ranked.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          qs.map(q => max(when(
            col("__rn") === ceil(col("__n") * q), col("nt"))).as(colName(q))): _*)
    } else {
      base.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          qs.map(q => percentile_approx(col("nt"), lit(q), lit(100000))
            .as(colName(q))): _*)
    }
  }
}
