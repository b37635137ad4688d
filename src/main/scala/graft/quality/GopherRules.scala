package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The Gopher document-quality rule set (Rae et al. 2021, "Scaling
  * Language Models: Methods, Analysis & Insights from Training Gopher",
  * §A1.1) as an explicit per-rule signal table — the published filter
  * battery most open pre-training pipelines (MassiveText, RefinedWeb,
  * Dolma) start from. Where [[graft.functions.TextFunctions.qualityScore]]
  * folds its signals into one composite score, this operator keeps every
  * rule SEPARATE: a corpus-curation loop needs to know WHICH rule fired
  * (e.g. "12% of src3 fails the bullet rule" is actionable; "quality
  * 0.4" is not), and ablating one rule must not re-run the other six.
  *
  * The rules, with Gopher's published thresholds as defaults:
  *   - word count in [50, 100k]
  *   - mean word length in [3, 10] characters
  *   - symbol-to-word ratio ('#' and ellipsis) <= 0.1
  *   - <= 90% of lines starting with a bullet character
  *   - <= 30% of lines ending in an ellipsis
  *   - >= 80% of words containing at least one alphabetic character
  *   - >= 2 distinct members of the required-stopword list present
  *
  * Every signal is a row-local column expression over one tokenization
  * (`\S+`, shared with the rest of the engine) — the whole battery adds
  * ZERO shuffle to a corpus scan and rides the same stage as the other
  * annotate-phase signals, which is what makes it free at 100 TB.
  * Flags are emitted as 0/1 BIGINT (engine-portable hashing), fractions
  * rounded to 6dp on both engines.
  *
  * Reference counterpart: the reference pipeline gates on a composite
  * score only (data_quality.py's scalar checks); this battery is part of
  * the training-data extension surface.
  */
object GopherRules {

  /** Thresholds, defaulted to the published Gopher values. */
  final case class GopherConfig(
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9,
      maxEllipsisLineFrac: Double = 0.3,
      minAlphaFrac: Double = 0.8,
      minStopwordHits: Int = 2)

  /** Gopher's required-stopword list (§A1.1): a document must contain at
    * least `minStopwordHits` DISTINCT members. Deliberately not the
    * language-ID stopword lists — the rule tests for connected English
    * prose, not language identity.
    */
  val RequiredStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private val BulletLine = "^\\s*[-*•]"
  private val EllipsisLineEnd = "(\\.\\.\\.|…)\\s*$"
  private val EllipsisAnywhere = "\\.\\.\\.|…"

  private def frac(num: Column, den: Column): Column =
    round(when(den > 0, num.cast("double") / den).otherwise(0.0), 6)

  /** One row per document: the seven raw signals, a 0/1 flag per rule,
    * and `gopher_pass` = conjunction. Signals survive alongside the
    * flags so thresholds can be re-tuned from the LANDED table without
    * re-scanning the corpus text.
    */
  def signals(
      df: DataFrame,
      idCol: String,
      textCol: String,
      cfg: GopherConfig = GopherConfig()): DataFrame = {
    val c = col(textCol)
    val toks = TextFunctions.tokens(c)
    val lowered = transform(toks, lower(_))
    // One codegen'd byte pass for (n_tokens, total_len); the mean falls
    // out as the ratio — no second tokenization for word lengths.
    val stats = TextFunctions.tokenStats(c)
    val nWords = stats.getField("n_tokens")
    val meanLen = round(
      when(nWords > 0,
        stats.getField("total_len").cast("double") / nWords).otherwise(0.0), 6)
    val nSymbols =
      graft.plans.HashExpressions.asciiSetCount(c, "#") +
        size(regexp_extract_all(c, lit(EllipsisAnywhere), lit(0)))
    val lines = split(c, "\n")
    val bulletFrac =
      frac(size(filter(lines, _.rlike(BulletLine))), size(lines))
    val ellipsisFrac =
      frac(size(filter(lines, _.rlike(EllipsisLineEnd))), size(lines))
    val alphaFrac =
      frac(size(filter(toks, _.rlike("[A-Za-z]"))), nWords)
    val stopHits = RequiredStopwords
      .map(w => when(array_contains(lowered, w), 1L).otherwise(0L))
      .reduce(_ + _)
    val flag = (b: Column) => when(b, 1L).otherwise(0L)

    val out = df.select(
      col(idCol),
      nWords.cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      frac(nSymbols, nWords).as("symbol_ratio"),
      bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_line_frac"),
      alphaFrac.as("alpha_frac"),
      stopHits.as("stopword_hits"))
    out.select(
      (out.columns.map(col) ++ Seq(
        flag(col("n_words").between(cfg.minWords, cfg.maxWords)).as("words_ok"),
        flag(col("mean_word_len").between(cfg.minMeanWordLen, cfg.maxMeanWordLen))
          .as("word_len_ok"),
        flag(col("symbol_ratio") <= cfg.maxSymbolRatio).as("symbol_ok"),
        flag(col("bullet_frac") <= cfg.maxBulletFrac).as("bullet_ok"),
        flag(col("ellipsis_line_frac") <= cfg.maxEllipsisLineFrac).as("ellipsis_ok"),
        flag(col("alpha_frac") >= cfg.minAlphaFrac).as("alpha_ok"),
        flag(col("stopword_hits") >= cfg.minStopwordHits).as("stopword_ok"))): _*)
      .withColumn("gopher_pass",
        col("words_ok") * col("word_len_ok") * col("symbol_ok") *
          col("bullet_ok") * col("ellipsis_ok") * col("alpha_ok") *
          col("stopword_ok"))
  }

  /** Per-source curation rollup over a [[signals]] frame: how much of
    * each source survives, and WHICH rule is killing it — the table a
    * corpus-curation loop actually reads ("src3 loses 40% to the
    * bullet rule" → fix the extractor, don't retune the threshold).
    * Runs over the LANDED signal table (docs-count rows, one tiny
    * keyed aggregate — re-aggregating after a threshold change never
    * re-touches corpus text).
    */
  def rollup(
      signals: DataFrame,
      sources: DataFrame,
      idCol: String,
      sourceCol: String): DataFrame = {
    val failFrac = (c: String) =>
      round(sum(lit(1L) - col(c)).cast("double") / count(lit(1)), 6)
    signals
      .join(sources.select(col(idCol), col(sourceCol).as("source")), Seq(idCol))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("gopher_pass")).as("n_pass"),
        round(sum(col("gopher_pass")).cast("double") / count(lit(1)), 6)
          .as("pass_frac"),
        failFrac("words_ok").as("fail_words"),
        failFrac("word_len_ok").as("fail_word_len"),
        failFrac("symbol_ok").as("fail_symbol"),
        failFrac("bullet_ok").as("fail_bullet"),
        failFrac("ellipsis_ok").as("fail_ellipsis"),
        failFrac("alpha_ok").as("fail_alpha"),
        failFrac("stopword_ok").as("fail_stopword"))
  }

  /** The battery as ONE boolean gate column — for inlining into an
    * annotate-scan filter ([[graft.app.RunCorpusPipeline]] style) where
    * only the verdict matters. Same signal expressions and threshold
    * comparisons as [[signals]] (agreement spec-pinned on docs with and
    * without each failure mode). Measured alone (`sum(hash(·))` over the
    * sf0.1 documents, min of 3, local[4] on a 4-core VM): 0.61 s, the
    * costliest per-row text kernel there (fleschReadingEase 0.34 s,
    * qualityScore 0.23 s, tokenStats 0.15 s).
    */
  def passes(c: Column, cfg: GopherConfig = GopherConfig()): Column = {
    val toks = TextFunctions.tokens(c)
    val lowered = transform(toks, lower(_))
    val stats = TextFunctions.tokenStats(c)
    val nWords = stats.getField("n_tokens")
    val meanLen = round(
      when(nWords > 0,
        stats.getField("total_len").cast("double") / nWords).otherwise(0.0), 6)
    val nSymbols =
      graft.plans.HashExpressions.asciiSetCount(c, "#") +
        size(regexp_extract_all(c, lit(EllipsisAnywhere), lit(0)))
    val lines = split(c, "\n")
    val stopHits = RequiredStopwords
      .map(w => when(array_contains(lowered, w), 1L).otherwise(0L))
      .reduce(_ + _)
    nWords.between(cfg.minWords, cfg.maxWords) &&
      meanLen.between(cfg.minMeanWordLen, cfg.maxMeanWordLen) &&
      frac(nSymbols, nWords) <= cfg.maxSymbolRatio &&
      frac(size(filter(lines, _.rlike(BulletLine))), size(lines)) <= cfg.maxBulletFrac &&
      frac(size(filter(lines, _.rlike(EllipsisLineEnd))), size(lines)) <= cfg.maxEllipsisLineFrac &&
      frac(size(filter(toks, _.rlike("[A-Za-z]"))), nWords) >= cfg.minAlphaFrac &&
      stopHits >= cfg.minStopwordHits
  }
}
