package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Census.r6

/** Classifier evaluation over scored corpora — the measurement layer a
  * quality-filtering pipeline needs BEFORE it trusts a score column to
  * gate training data: ROC/AUC (does the score rank good above bad at
  * all), the ROC operating points (which threshold buys which
  * tpr/fpr), and calibration (does "0.8" mean 80%). All three are
  * exact and engine-portable BY CONSTRUCTION, not by float luck:
  *
  *  - AUC is computed as the Mann-Whitney U statistic (Mann & Whitney
  *    1947; Hanley & McNeil 1982 for the AUC identity) from INTEGER
  *    rank sums — doubled to absorb tie half-credits, so every
  *    intermediate is a BIGINT and the one double division happens
  *    last. No trapezoid float accumulation, no summation-order risk.
  *  - ROC points are cumulative integer counts over the distinct-score
  *    table; tpr/fpr are single integer-ratio divisions per row.
  *  - Calibration bins stage the mean predicted score through exact
  *    decimal sums (scores arrive on a rounded grid) and the observed
  *    rate as an integer ratio.
  *
  * Scale shape: one (group, score) count aggregation bounds everything
  * downstream by DISTINCT SCORES per group (scores are grid-rounded —
  * metadata-sized), not rows; the rank window for U runs over that
  * same bounded table using count-weighted rank identities rather than
  * per-row ranks. No collect, no driver loops.
  */
object MlEval {

  /** Exact ROC-AUC per group via Mann-Whitney U. `labelCol` must be a
    * boolean column (true = positive); `scoreCol` any orderable
    * numeric. Returns (group, n_pos, n_neg, auc) with auc = P(score of
    * a random positive > score of a random negative) + half credit for
    * ties, rounded to 6dp; null when a group lacks both classes.
    *
    * Tie handling uses midranks via the count identity: for a distinct
    * score s with c rows starting at rank r (1-based, ascending), each
    * row's doubled midrank is 2r + c - 1. Summing over positives:
    * 2·Σ midrank_pos = Σ_s pos_s · (2·r_s + c_s − 1) — every term a
    * BIGINT from the (group, score) counts, so U needs no per-row
    * window at all, only a cumulative count over the distinct-score
    * table. 2U = that sum − n_pos(n_pos+1); auc = 2U / (2·n_pos·n_neg).
    */
  def rocAuc(
      df: DataFrame,
      groupCol: String,
      labelCol: Column,
      scoreCol: Column): DataFrame = {
    val counts = scoreCounts(df, groupCol, labelCol, scoreCol)
    val wCum = Window.partitionBy(groupCol).orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      // rank of the first row at this score = 1 + (rows strictly below)
      .withColumn("__below",
        sum(col("pos") + col("neg")).over(wCum) - (col("pos") + col("neg")))
      .withColumn("__term",
        col("pos") * (lit(2L) * (col("__below") + 1L)
          + (col("pos") + col("neg")) - 1L))
      .groupBy(col(groupCol))
      .agg(
        sum(col("pos")).as("n_pos"),
        sum(col("neg")).as("n_neg"),
        sum(col("__term")).as("__rank2"))
      .withColumn("__u2",
        col("__rank2") - col("n_pos") * (col("n_pos") + 1L))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("__u2").cast("double")
            / (lit(2L) * col("n_pos") * col("n_neg")), 6)).as("auc"))
  }

  /** ROC operating points per group: one row per DISTINCT observed
    * score (the candidate thresholds t = that score, predicting
    * positive when score >= t), descending-threshold cumulative tp/fp
    * plus tpr/fpr — the curve [[rocAuc]] summarizes. Integer counts
    * throughout; the two ratios are single divisions per row.
    */
  def rocCurve(
      df: DataFrame,
      groupCol: String,
      labelCol: Column,
      scoreCol: Column): DataFrame = {
    val counts = scoreCounts(df, groupCol, labelCol, scoreCol)
    val wDesc = Window.partitionBy(groupCol).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCol)
    counts
      .withColumn("tp", sum(col("pos")).over(wDesc))
      .withColumn("fp", sum(col("neg")).over(wDesc))
      .withColumn("n_pos", sum(col("pos")).over(wAll))
      .withColumn("n_neg", sum(col("neg")).over(wAll))
      .select(col(groupCol), col("score").as("threshold"),
        col("tp"), col("fp"),
        when(col("n_pos") > 0,
          round(col("tp").cast("double") / col("n_pos"), 6)).as("tpr"),
        when(col("n_neg") > 0,
          round(col("fp").cast("double") / col("n_neg"), 6)).as("fpr"))
  }

  /** Precision-recall operating points per group: one row per distinct
    * observed score (threshold t, predicting positive when score >= t),
    * descending-threshold cumulative integer tp/fp, precision =
    * tp/(tp+fp) and recall = tp/n_pos — each a SINGLE integer-ratio
    * division, so portable per IEEE without staging. The PR twin of
    * [[rocCurve]] for the imbalanced-corpus regime where ROC flatters
    * (n_neg dwarfs n_pos and fpr stays tiny no matter how bad the
    * precision gets — Davis & Goadrich 2006).
    */
  def prCurve(
      df: DataFrame,
      groupCol: String,
      labelCol: Column,
      scoreCol: Column): DataFrame = {
    val counts = scoreCounts(df, groupCol, labelCol, scoreCol)
    val wDesc = Window.partitionBy(groupCol).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCol)
    counts
      .withColumn("tp", sum(col("pos")).over(wDesc))
      .withColumn("fp", sum(col("neg")).over(wDesc))
      .withColumn("n_pos", sum(col("pos")).over(wAll))
      .select(col(groupCol), col("score").as("threshold"),
        col("tp"), col("fp"),
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6)
          .as("precision"),
        when(col("n_pos") > 0,
          round(col("tp").cast("double") / col("n_pos"), 6)).as("recall"))
  }

  /** Step-interpolated average precision per group (the area under
    * [[prCurve]] as sklearn defines it): AP = Σ_k (R_k − R_{k−1})·P_k
    * over descending thresholds = (1/n_pos) Σ_k pos_k · tp_k/(tp_k+fp_k).
    * Each TERM is a pure function of integer counts (one IEEE division
    * + one multiply — identical doubles in any engine), but the SUM
    * over thresholds is float and unordered, so the house discipline
    * applies: every term is rounded onto a 12dp grid, the grid values
    * fold as exact decimals (order-free), and the one final division
    * by n_pos happens on the exact total. Null when a group has no
    * positives.
    */
  def averagePrecision(
      df: DataFrame,
      groupCol: String,
      labelCol: Column,
      scoreCol: Column): DataFrame = {
    val counts = scoreCounts(df, groupCol, labelCol, scoreCol)
    val wDesc = Window.partitionBy(groupCol).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("tp", sum(col("pos")).over(wDesc))
      .withColumn("fp", sum(col("neg")).over(wDesc))
      .withColumn("__term",
        round(col("pos") * col("tp").cast("double")
          / (col("tp") + col("fp")), 12).cast("decimal(28,12)"))
      .groupBy(col(groupCol))
      .agg(sum(col("pos")).as("n_pos"), sum(col("__term")).as("__ap_sum"))
      .select(col(groupCol), col("n_pos"),
        when(col("n_pos") > 0,
          round(col("__ap_sum").cast("double") / col("n_pos"), 6))
          .as("avg_precision"))
  }

  /** The best-F1 operating point per group: the threshold maximizing
    * F1 = 2·tp / (2·tp + fp + fn), highest threshold winning ties.
    * F1 per row is ONE integer-ratio division (portable); the argmax
    * orders by that double, which both engines compute bit-identically
    * from the same integers. Groups with no positives emit no row (F1
    * is identically 0 at every threshold — there is no operating
    * point to report).
    */
  def bestF1(
      df: DataFrame,
      groupCol: String,
      labelCol: Column,
      scoreCol: Column): DataFrame = {
    val counts = scoreCounts(df, groupCol, labelCol, scoreCol)
    val wDesc = Window.partitionBy(groupCol).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCol)
    val scored = counts
      .withColumn("tp", sum(col("pos")).over(wDesc))
      .withColumn("fp", sum(col("neg")).over(wDesc))
      .withColumn("n_pos", sum(col("pos")).over(wAll))
      .filter(col("n_pos") > 0)
      .withColumn("f1",
        round(lit(2L) * col("tp").cast("double")
          / (lit(2L) * col("tp") + col("fp") + (col("n_pos") - col("tp"))),
          6))
    val wRank = Window.partitionBy(groupCol)
      .orderBy(col("f1").desc, col("score").desc)
    scored
      .withColumn("__rn", row_number().over(wRank))
      .filter(col("__rn") === 1)
      .select(col(groupCol), col("score").as("threshold"),
        col("tp"), col("fp"), col("f1"))
  }

  /** Reliability (calibration) bins per group: scores in [0, 1] fall
    * into `bins` fixed-width buckets (the top edge closes into the last
    * bin); per bucket, the count, the mean predicted score
    * (decimal-staged — the score column is expected grid-rounded, as
    * every engine scorer here emits), and the observed positive rate
    * (integer ratio). mean_score ≈ pos_rate per bin = calibrated.
    */
  def calibrationBins(
      df: DataFrame,
      groupCol: String,
      labelCol: Column,
      scoreCol: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val b = least(floor(scoreCol * bins).cast("long"), lit(bins - 1L))
    // Null scores are dropped, mirroring scoreCounts: floor(null) would
    // otherwise mint a null bin, and Spark sorts nulls first while
    // DuckDB sorts them last — a row-order (and hash) divergence.
    df.filter(scoreCol.isNotNull)
      .select(col(groupCol), b.as("bin"),
        scoreCol.cast("double").as("__s"), labelCol.as("__y"))
      .groupBy(col(groupCol), col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        round(sum(col("__s").cast("decimal(18,6)")).cast("double")
          / count(col("__s")), 6).as("mean_score"))
      .withColumn("pos_rate",
        round(col("n_pos").cast("double") / col("n"), 6))
  }

  /** The shared (group, distinct score) positive/negative counts —
    * the one full-fact pass all three evaluators reduce through.
    * Null scores are dropped (a scoreless row cannot sit on either
    * side of any threshold); null labels are rejected upstream by the
    * boolean column contract.
    */
  private def scoreCounts(
      df: DataFrame,
      groupCol: String,
      labelCol: Column,
      scoreCol: Column): DataFrame =
    df.filter(scoreCol.isNotNull)
      .select(col(groupCol), scoreCol.as("score"), labelCol.as("__y"))
      .groupBy(col(groupCol), col("score"))
      .agg(
        sum(when(col("__y"), 1L).otherwise(0L)).as("pos"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("neg"))

  /** Brier score with the Murphy (1973) three-way decomposition per
    * group — the proper-scoring-rule view [[calibrationBins]] only eyeballs:
    *
    *   brier       = mean((score − y)²)                 — total loss
    *   reliability = Σ_k n_k·(mean_score_k − rate_k)²/n — mis-calibration (≥0, want 0)
    *   resolution  = Σ_k n_k·(rate_k − base)²/n         — discrimination (want high)
    *   uncertainty = base·(1 − base)                    — the data's floor
    *
    * over the same `bins` fixed-width buckets as [[calibrationBins]]
    * (so "which bin hurts" cross-references directly). The classic
    * identity brier = REL − RES + UNC holds up to within-bin score
    * variance (exact only when every score in a bin is identical) —
    * emit all four, let the dashboard show the residual.
    *
    * Engine-portable by the house staging: scores arrive grid-rounded,
    * so (score − y) sits on the same 6dp grid and its square is EXACT
    * at decimal scale 12; per-bin diffs are 6dp-rounded BEFORE the
    * square; every fold is an exact decimal sum with one double
    * division at the end. Scale shape: one full-fact aggregation into
    * ≤ `bins` rows per group, everything after is metadata-sized.
    */
  def brierDecomposition(
      df: DataFrame,
      groupCol: String,
      labelCol: Column,
      scoreCol: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val b = least(floor(scoreCol * bins).cast("long"), lit(bins - 1L))
    val dec6 = "decimal(18,6)"
    // Narrow types for the bounded quantities ([0,1]-ish diffs): the
    // square then weight-multiply must stay UNDER precision 38 or Spark
    // silently drops scale (the decimal-multiply trap in SURVEY).
    val dDiff = "decimal(7,6)"
    val perBin = df.filter(scoreCol.isNotNull)
      .select(col(groupCol), b.as("bin"),
        scoreCol.cast("double").as("__s"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy(col(groupCol), col("bin"))
      .agg(
        count(lit(1)).as("n_k"),
        sum(col("__y")).as("pos_k"),
        sum(col("__s").cast(dec6)).as("__ssum_k"),
        // (s − y) is on the 6dp grid in [-1,1]; its square is exact at
        // scale 12 and precision 15 — the sum stays decimal-exact.
        sum((col("__s").cast(dDiff) - col("__y").cast(dDiff))
          * (col("__s").cast(dDiff) - col("__y").cast(dDiff))).as("__sq_k"))
    val w = Window.partitionBy(groupCol)
    perBin
      .withColumn("__n", sum(col("n_k")).over(w))
      .withColumn("__pos", sum(col("pos_k")).over(w))
      .withColumn("__sq", sum(col("__sq_k")).over(w))
      .withColumn("__base",
        round(col("__pos").cast("double") / col("__n"), 6))
      .withColumn("__ms_k",
        round(col("__ssum_k").cast("double") / col("n_k"), 6))
      .withColumn("__rate_k",
        round(col("pos_k").cast("double") / col("n_k"), 6))
      // Per-bin weighted squares: 6dp diffs square exactly at 12dp,
      // times the long weight stays decimal-exact; the cross-bin fold
      // is an exact decimal sum (≤ bins rows — but order-free anyway).
      .withColumn("__rel_k",
        (round(col("__ms_k") - col("__rate_k"), 6).cast(dDiff)
          * round(col("__ms_k") - col("__rate_k"), 6).cast(dDiff))
          * col("n_k").cast("decimal(20,0)"))
      .withColumn("__res_k",
        (round(col("__rate_k") - col("__base"), 6).cast(dDiff)
          * round(col("__rate_k") - col("__base"), 6).cast(dDiff))
          * col("n_k").cast("decimal(20,0)"))
      .groupBy(col(groupCol))
      .agg(
        max(col("__n")).as("n"),
        max(col("__pos")).as("n_pos"),
        round(max(col("__sq")).cast("double")
          / max(col("__n")), 6).as("brier"),
        round(sum(col("__rel_k")).cast("double") / max(col("__n")), 6)
          .as("reliability"),
        round(sum(col("__res_k")).cast("double") / max(col("__n")), 6)
          .as("resolution"),
        round(max(col("__base")) * (lit(1.0) - max(col("__base"))), 6)
          .as("uncertainty"))
  }

  /** Loud cardinality gate on the bounded-by-vocabulary driver
    * collects (r20 — the r19 verdict's one scale hole): the kappa/AC1
    * cell censuses are categories²-bounded BY ASSUMPTION, and a
    * high-cardinality "label" column (free text, ids) silently turns
    * the one-job driver assembly into an unbounded collect. The gate
    * rides the SAME job as the collect ([[Census.collectBounded]]),
    * failing with an actionable message instead of a driver OOM.
    * Under the limit the collected rows are identical to a plain
    * collect (all downstream folds are order-free integer / decimal
    * sums, so row order is immaterial).
    */
  private[graft] val MaxDriverCells = 2000000

  private def collectCellsBounded(
      df: DataFrame, what: String, maxCells: Int): Array[org.apache.spark.sql.Row] =
    Census.collectBounded(df, maxCells, s"$what: cell census",
      "the driver assembly assumes a bounded label vocabulary " +
        "(categories² cells); bucket or recode the label column upstream")

  /** Cohen's kappa (Cohen 1960): chance-corrected agreement between two
    * CATEGORICAL raters over the same units — the standard QC readout
    * for labeled training data (two annotators, or two automatic
    * filters: are they measuring the same thing beyond chance?).
    * po = observed agreement fraction; pe = Σ_k p_a(k)·p_b(k), the
    * agreement two independent raters with these marginals would reach
    * by luck; κ = (po − pe)/(1 − pe). κ is null when pe = 1 (both
    * raters constant — agreement is vacuous, not perfect).
    *
    * One aggregation to the (a, b) confusion cells (bounded by the
    * category-pair count); marginals, the exact integer cross-product
    * fold, and the κ assembly run over that bounded table — no per-unit
    * state. pe's numerator Σ na_k·nb_k stays in the signed-long lane
    * for n up to ~3e9 units (the documented bounded-input posture the
    * rank/tie operators share); the divisions are fixed-order IEEE, so
    * the whole readout replays bitwise in SQL.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame =
    cohenKappa(df, aCol, bCol, MaxDriverCells)

  private[graft] def cohenKappa(
      df: DataFrame, aCol: String, bCol: String, maxCells: Int): DataFrame = {
    // r19 shape (guide §2.4): the confusion-cell census is BOUNDED
    // (categories², the label vocabulary), so the fit runs ONE
    // distributed job — the cell fold, collected — and the po/pe/kappa
    // assembly (exact long marginal folds, the same fixed-order IEEE
    // divisions, r6 == round(…, 6)) lands on the driver. The old form
    // paid a cache fill + three marginal branch aggregates + a
    // crossJoin + an eager checkpoint for a one-row readout.
    val spark = df.sparkSession
    import spark.implicits._
    val cells = collectCellsBounded(df
      .select(col(aCol).cast("string").as("a"), col(bCol).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("c")), "cohenKappa", maxCells)
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val n = cells.iterator.map(_._3).sum
    if (n <= 0)
      Seq.empty[(Long, Double, Double, Option[Double])].toDF("n", "po", "pe", "kappa")
    else {
      val agree = cells.iterator.filter(c => c._1 == c._2).map(_._3).sum
      val na = cells.groupBy(_._1).map { case (k, g) => k -> g.map(_._3).sum }
      val nb = cells.groupBy(_._2).map { case (k, g) => k -> g.map(_._3).sum }
      val spe = na.iterator.collect {
        case (k, cnt) if nb.contains(k) => cnt * nb(k)
      }.sum
      val poRaw = agree.toDouble / n.toDouble
      val peRaw = spe.toDouble / (n.toDouble * n.toDouble)
      val kappa =
        if (peRaw < 1.0) Some(r6((poRaw - peRaw) / (1.0 - peRaw))) else None
      Seq((n, r6(poRaw), r6(peRaw), kappa)).toDF("n", "po", "pe", "kappa")
    }
  }

  /** Gwet's AC1 (Gwet 2008, "Computing inter-rater reliability and its
    * variance in the presence of high agreement"): the PARADOX-
    * RESISTANT companion to [[cohenKappa]]. Kappa's chance term uses
    * the raters' own marginals, so two raters who agree 95% of the
    * time on a skewed label (most docs pass a filter) can score a
    * NEGATIVE kappa — the Feinstein-Cicchetti paradox, and exactly the
    * regime quality-filter panels live in. AC1's chance term models
    * random rating only of the "hard" share:
    *   pe_γ = (1/(K−1)) Σ_k π_k(1−π_k),  π_k = (n_ak + n_bk)/(2n)
    *   AC1 = (po − pe_γ)/(1 − pe_γ)
    * Null when K = 1 (one category: chance agreement is vacuous).
    *
    * Same bounded confusion-cell shape as kappa; pe_γ's numerator
    * folds as the exact integer Σ_k m_k(2n − m_k) with m_k the summed
    * marginal, so the readout is fixed-order IEEE over integer folds —
    * bitwise-replayable. m_k(2n − m_k) stays in the signed-long lane
    * for n up to ~1.5e9 (the shared bounded-input posture).
    */
  def gwetAc1(df: DataFrame, aCol: String, bCol: String): DataFrame =
    gwetAc1(df, aCol, bCol, MaxDriverCells)

  private[graft] def gwetAc1(
      df: DataFrame, aCol: String, bCol: String, maxCells: Int): DataFrame = {
    // missing votes drop as unrated, not as phantom categories: a null
    // surviving the groupBy would never match the USING full join and
    // so would count as an extra category in K and the pe_gamma fold
    // (the r17 advice gap; bradleyTerry shares this input hygiene)
    // r19 shape: same bounded-cell driver assembly as [[cohenKappa]] —
    // one cell-fold job, marginals and the pe_γ integer fold on the
    // driver (long arithmetic is wrap-identical to the old Spark long
    // lane; the bounded-input posture is unchanged).
    val spark = df.sparkSession
    import spark.implicits._
    val cells = collectCellsBounded(df
      .select(col(aCol).cast("string").as("a"), col(bCol).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("c")), "gwetAc1", maxCells)
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val n = cells.iterator.map(_._3).sum
    if (n <= 0)
      Seq.empty[(Long, Double, Option[Double], Option[Double])]
        .toDF("n", "po", "pe_gamma", "ac1")
    else {
      val agree = cells.iterator.filter(c => c._1 == c._2).map(_._3).sum
      val na = cells.groupBy(_._1).map { case (k, g) => k -> g.map(_._3).sum }
      val nb = cells.groupBy(_._2).map { case (k, g) => k -> g.map(_._3).sum }
      // summed marginal per category — union of both raters' vocabularies:
      // a category one rater never emits still counts toward the other's
      val cats = (na.keySet ++ nb.keySet).toSeq
      val k = cats.size.toLong
      val s = cats.iterator.map { c =>
        val m = na.getOrElse(c, 0L) + nb.getOrElse(c, 0L)
        m * (2L * n - m)
      }.sum
      val poRaw = agree.toDouble / n.toDouble
      val peRaw = s.toDouble /
        ((2L * n).toDouble * (2L * n).toDouble * (k - 1).toDouble)
      val (peG, ac1) =
        if (k > 1)
          (Some(r6(peRaw)), Some(r6((poRaw - peRaw) / (1.0 - peRaw))))
        else (None, None)
      Seq((n, r6(poRaw), peG, ac1)).toDF("n", "po", "pe_gamma", "ac1")
    }
  }

  /** Fleiss' kappa (Fleiss 1971): chance-corrected agreement for a
    * FIXED PANEL of m raters per unit — the multi-rater generalization
    * of [[cohenKappa]]. Input is LONG form: one row per (unit, assigned
    * label). Every unit must carry the same rater count m ≥ 2 — Fleiss
    * assumes a balanced design, so an unbalanced panel fails loudly
    * instead of silently reweighting.
    *
    * Per unit, P_i = (Σ_k n_ik² − m)/(m(m−1)); P̄ is their mean;
    * chance agreement P̄e = Σ_k p_k² with p_k the category's share of
    * ALL assignments; κ = (P̄ − P̄e)/(1 − P̄e), null when P̄e = 1.
    * Both numerators fold as EXACT integers (Σ(ss_i − m), Σ c_k²), so
    * the readout is two fixed-order IEEE divisions plus the κ assembly
    * — bitwise-replayable. c_k² stays in the signed-long lane for
    * N·m up to ~3e9 assignments (the shared bounded-input posture).
    */
  def fleissKappa(df: DataFrame, unitCol: String, labelCol: String): DataFrame = {
    // r19 shape: the unit-keyed and category-keyed folds stay
    // distributed (both are data-grain), but they fold through ONE
    // tagged union-aggregate job instead of a cached census + two
    // separate actions + an eager checkpoint; the fixed-order IEEE
    // assembly over the collected exact integers runs on the driver
    // (the [[cohenKappa]] posture). The two branches share the ONE
    // unit-keyed exchange (ReusedExchange), so the input expressions —
    // often a chain of text kernels — evaluate exactly once, with no
    // cache (the old persist let concurrent branch stages race on the
    // unfilled cache and re-run the kernels).
    val spark = df.sparkSession
    import spark.implicits._
    val nik = df
      .select(col(unitCol).as("u"), col(labelCol).cast("string").as("k"))
      .filter(col("u").isNotNull && col("k").isNotNull)
      .repartition(col("u"))
      .groupBy("u", "k").agg(count(lit(1)).as("c"))
    val totals = nik.groupBy("u").agg(
        sum(col("c")).as("m"),
        sum(col("c") * col("c")).as("ss"))
      .agg(
        countDistinct(col("m")).as("a"),
        max(col("m")).as("b"),
        count(lit(1)).as("c"),
        coalesce(sum(col("ss") - col("m")), lit(0L)).as("d"))
    val sck2 = nik.groupBy("k").agg(sum(col("c")).as("__ck"))
      .agg(
        coalesce(sum(col("__ck") * col("__ck")), lit(0L)).as("a"),
        lit(0L).as("b"), lit(0L).as("c"), lit(0L).as("d"))
    val rows = totals.select(lit(1).as("t"), col("a"), col("b"), col("c"), col("d"))
      .unionByName(sck2.select(lit(2).as("t"), col("a"), col("b"), col("c"), col("d")))
      .collect()
    val tRow = rows.find(_.getInt(0) == 1).get
    val nm = tRow.getLong(1)
    val mMax = if (tRow.isNullAt(2)) 0L else tRow.getLong(2)
    val nUnits = tRow.getLong(3)
    val num = tRow.getLong(4)
    require(nm == 1 && mMax >= 2,
      s"fleissKappa needs a constant rater count >= 2 per unit; got " +
        s"$nm distinct count(s), max m = $mMax - " +
        "balance the panel (or drop under-rated units) upstream")
    // loud long-lane gate (r17 verdict): Σ c_k² is bounded by (N·m)²
    // when one category takes every assignment, so total assignments
    // past √Long.MaxValue could silently wrap the chance numerator into
    // a wrong kappa. Fail loudly instead.
    val totalAssignments = BigInt(nUnits) * BigInt(mMax)
    require(totalAssignments <= BigInt(3037000499L),
      s"fleissKappa: $totalAssignments assignments exceed the exact " +
        "signed-long lane for the chance numerator (max 3037000499 = " +
        "sqrt(Long.MaxValue)); shard the panel or pre-aggregate upstream")
    val sck2V = rows.find(_.getInt(0) == 2).map(_.getLong(1)).getOrElse(0L)
    if (nUnits <= 0)
      Seq.empty[(Long, Long, Double, Double, Option[Double])]
        .toDF("n_units", "m_raters", "p_bar", "p_e", "kappa")
    else {
      val pBarRaw = num.toDouble /
        (nUnits.toDouble * mMax.toDouble * (mMax - 1).toDouble)
      val nmTot = nUnits * mMax
      val peRaw = sck2V.toDouble / (nmTot.toDouble * nmTot.toDouble)
      val kappa =
        if (peRaw < 1.0) Some(r6((pBarRaw - peRaw) / (1.0 - peRaw))) else None
      Seq((nUnits, mMax, r6(pBarRaw), r6(peRaw), kappa))
        .toDF("n_units", "m_raters", "p_bar", "p_e", "kappa")
    }
  }

  /** WEIGHTED Cohen's kappa for ORDINAL grades (Cohen 1968), quadratic
    * disagreement d_ij = (i−j)²: adjacent grades disagree mildly, far
    * grades heavily — the ordinal twin of [[cohenKappa]], which charges
    * every disagreement equally and so under-credits raters that are
    * merely one grade apart. In disagreement form
    *   κ_w = 1 − D_o/D_e,  D_o = Σ f_ij·d_ij / n,
    *   D_e = Σ r_i·c_j·d_ij / n²   (r, c the raters' marginals),
    * and the (K−1)² weight normalization cancels, so grades need not
    * be contiguous. Both numerators fold as EXACT integers over the
    * bounded confusion cells; two fixed-order IEEE divisions + the
    * assembly replay bitwise. κ null when D_e = 0 (both marginals on
    * one grade). Labels must be integer grades (cast to long).
    */
  def cohenKappaWeighted(
      df: DataFrame, aCol: String, bCol: String): DataFrame =
    cohenKappaWeighted(df, aCol, bCol, MaxDriverCells)

  private[graft] def cohenKappaWeighted(
      df: DataFrame, aCol: String, bCol: String, maxCells: Int): DataFrame = {
    // r19 shape: bounded-cell driver assembly (the [[cohenKappa]]
    // pattern) — one cell-fold job; the observed and expected
    // disagreement integer folds (including the marginal cross
    // product) run on the driver with wrap-identical long arithmetic.
    val spark = df.sparkSession
    import spark.implicits._
    val cells = collectCellsBounded(df
      .select(col(aCol).cast("long").as("i"), col(bCol).cast("long").as("j"))
      .filter(col("i").isNotNull && col("j").isNotNull)
      .groupBy("i", "j").agg(count(lit(1)).as("c")), "cohenKappaWeighted", maxCells)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = cells.iterator.map(_._3).sum
    if (n <= 0)
      Seq.empty[(Long, Double, Double, Option[Double])]
        .toDF("n", "d_o", "d_e", "kappa_w")
    else {
      val od = cells.iterator.map { case (i, j, c) =>
        c * (i - j) * (i - j) }.sum
      val ra = cells.groupBy(_._1).map { case (k, g) => k -> g.map(_._3).sum }
      val cb = cells.groupBy(_._2).map { case (k, g) => k -> g.map(_._3).sum }
      val ed = (for { (i, ri) <- ra.iterator; (j, cj) <- cb.iterator }
        yield ri * cj * (i - j) * (i - j)).sum
      val doRaw = od.toDouble / n.toDouble
      val deRaw = ed.toDouble / (n.toDouble * n.toDouble)
      val kw = if (ed > 0) Some(r6(1.0 - doRaw / deRaw)) else None
      Seq((n, r6(doRaw), r6(deRaw), kw)).toDF("n", "d_o", "d_e", "kappa_w")
    }
  }

  /** Krippendorff's alpha, nominal scale (Krippendorff 1970/2004): the
    * agreement statistic for UNBALANCED panels — raters may abstain, so
    * units carry varying rater counts m_u (exactly the design
    * [[fleissKappa]] refuses). Units with m_u < 2 are unpairable and
    * drop (standard α convention); over the pairable assignments,
    *   D_o = (1/n)·Σ_u [Σ_c n_uc·(m_u − n_uc)] / (m_u − 1)
    *   D_e = [Σ_c n_c·(n − n_c)] / (n·(n − 1))
    *   α = 1 − D_o/D_e,  null when D_e = 0 (single category overall).
    *
    * Portability: the per-unit D_o term is the one rational with a
    * unit-varying denominator, so it lands on the 6dp grid and folds as
    * an exact decimal sum (order-free) — the house staging rule; D_e's
    * numerator folds as exact integers. n_c·(n − n_c) stays in the
    * signed-long lane for n up to ~3e9 (the shared bounded-input
    * posture).
    */
  def krippendorffAlpha(
      df: DataFrame, unitCol: String, labelCol: String): DataFrame = {
    // r19 shape (guide §2.4 — share one exchange): ONE hash exchange on
    // the unit key carries the whole unit-grain chain — the (u,k) cell
    // fold, the per-unit m window and the per-unit disagreement fold
    // all reuse HashPartitioning(u) — and the bounded category census
    // (label-vocabulary grain) joins it in a tagged union, so the whole
    // statistic is ONE distributed job with two exchanges (was: a
    // cached census + four crossJoined branch chains + an eager
    // checkpoint). The final assembly (exact decimal/long folds, the
    // same fixed-order IEEE divisions) runs on the driver.
    val spark = df.sparkSession
    import spark.implicits._
    val cellsW = df
      .select(col(unitCol).as("u"), col(labelCol).cast("string").as("k"))
      .filter(col("u").isNotNull && col("k").isNotNull)
      .repartition(col("u"))
      .groupBy("u", "k").agg(count(lit(1)).as("c"))
      .withColumn("m", sum(col("c")).over(Window.partitionBy("u")))
      .filter(col("m") >= 2)
    // per-unit disagreement on the 6dp grid, exact decimal fold
    val uStats = cellsW
      .withColumn("__d", col("c") * (col("m") - col("c")))
      .groupBy(col("u"))
      .agg(sum(col("__d")).as("__du"), max(col("m")).as("m"))
      .select(round(col("__du").cast("double")
          / (col("m") - 1).cast("double"), 6).cast("decimal(28,6)").as("__t"),
        col("m"))
      .agg(
        coalesce(sum(col("__t")), lit(0).cast("decimal(28,6)")).as("sdo"),
        count(lit(1)).as("n_units"),
        coalesce(sum(col("m")), lit(0L)).as("n"))
    val perK = cellsW.groupBy("k").agg(sum(col("c")).as("__ck"))
    val rows = collectCellsBounded(
      uStats.select(lit(1).as("t"), col("sdo"),
          col("n_units"), col("n"))
        .unionByName(perK.select(lit(2).as("t"),
          col("__ck").cast("decimal(38,6)").as("sdo"),
          lit(0L).as("n_units"), lit(0L).as("n"))),
      "krippendorffAlpha (category census)", MaxDriverCells)
    val uRow = rows.find(_.getInt(0) == 1).get
    val sdo = uRow.getDecimal(1)
    val nUnits = uRow.getLong(2)
    val n = uRow.getLong(3)
    if (n <= 0)
      Seq.empty[(Long, Long, Long, Double, Double, Option[Double])]
        .toDF("n_units", "n_assignments", "n_categories", "d_o", "d_e", "alpha")
    else {
      val cks = rows.filter(_.getInt(0) == 2)
        .map(_.getDecimal(1).longValueExact())
      val nCat = cks.length.toLong
      val sde = cks.iterator.map(ck => ck * (n - ck)).sum
      val doRaw = sdo.doubleValue / n.toDouble
      val deRaw = sde.toDouble / (n.toDouble * (n - 1).toDouble)
      val alpha = if (sde > 0) Some(r6(1.0 - doRaw / deRaw)) else None
      Seq((nUnits, n, nCat, r6(doRaw), r6(deRaw), alpha))
        .toDF("n_units", "n_assignments", "n_categories", "d_o", "d_e", "alpha")
    }
  }

  /** Krippendorff's alpha, INTERVAL metric (Krippendorff 2004): the
    * graded-label form of [[krippendorffAlpha]] — δ²(c,c') = (c−c')²,
    * so adjacent grades disagree mildly and far grades heavily (what
    * the quadratic weights do for [[cohenKappaWeighted]], but with
    * alpha's unbalanced-panel support: raters may abstain, units with
    * fewer than 2 votes drop as unpairable). Labels must be integer
    * grades.
    *
    * The pair sums collapse to moment identities — per unit,
    *   Σ_{c,c'} n_c·n_c'·(c−c')² = 2·m_u·Σx² − 2·(Σx)²
    * — so both numerators fold as EXACT integers (per-unit sum S1 and
    * square-sum S2); the one unit-varying rational lands on the 6dp
    * grid and folds as an exact decimal (the house staging rule), and
    * the assembly is two fixed-order IEEE divisions — bitwise-
    * replayable. The moment lanes (x², (Σx)², the 2mS2−2S1² assembly)
    * fold in decimal(38,0), so grades up to ~1e18 in magnitude can no
    * longer silently wrap a signed long into a wrong alpha (the r17
    * long-lane caveat, closed by widening instead of a bound).
    */
  def krippendorffAlphaInterval(
      df: DataFrame, unitCol: String, valueCol: String): DataFrame = {
    // r19 shape: ONE unit-keyed aggregation job computing every
    // sufficient statistic in a single pass (the moment sums AND the
    // 6dp per-unit disagreement fold), no cache, no branch crossJoins;
    // the deNum/assembly arithmetic replays on the driver with exact
    // BigDecimal integer folds (identical within the documented
    // decimal(38,0) posture) and the same fixed-order IEEE divisions.
    val spark = df.sparkSession
    import spark.implicits._
    val v = df
      .select(col(unitCol).as("u"), col(valueCol).cast("long").as("x"))
      .filter(col("u").isNotNull && col("x").isNotNull)
    val xd = col("x").cast("decimal(19,0)")
    val row = v.groupBy("u").agg(
        count(lit(1)).as("m"),
        sum(xd).as("s1"),
        sum(xd * xd).as("s2"))
      .filter(col("m") >= 2)
      .select(col("m"), col("s1"), col("s2"),
        round(
            (lit(2L) * col("m") * col("s2") - lit(2L) * col("s1") * col("s1"))
              .cast("double") / (col("m") - 1).cast("double"), 6)
          .cast("decimal(28,6)").as("__t"))
      .agg(
        coalesce(sum(col("__t")), lit(0).cast("decimal(28,6)")).as("__sdo"),
        count(lit(1)).as("n_units"),
        coalesce(sum(col("m")), lit(0L)).as("n"),
        coalesce(sum(col("s1")), lit(0).cast("decimal(38,0)")).as("__ts1"),
        coalesce(sum(col("s2")), lit(0).cast("decimal(38,0)")).as("__ts2"))
      .head()
    val sdo = row.getDecimal(0)
    val nUnits = row.getLong(1)
    val n = row.getLong(2)
    if (n <= 0)
      Seq.empty[(Long, Long, Double, Double, Option[Double])]
        .toDF("n_units", "n_assignments", "d_o", "d_e", "alpha")
    else {
      val ts1 = BigDecimal(row.getDecimal(3))
      val ts2 = BigDecimal(row.getDecimal(4))
      val deNum = BigDecimal(2L * n) * ts2 - BigDecimal(2) * ts1 * ts1
      val doRaw = sdo.doubleValue / n.toDouble
      val deRaw = deNum.toDouble / (n.toDouble * (n - 1).toDouble)
      val alpha = if (deNum > 0) Some(r6(1.0 - doRaw / deRaw)) else None
      Seq((nUnits, n, r6(doRaw), r6(deRaw), alpha))
        .toDF("n_units", "n_assignments", "d_o", "d_e", "alpha")
    }
  }

  /** GOLD-UNIT rater evaluation — the spammer/miscalibration screen
    * every annotation pipeline runs where ground truth exists: a small
    * gold subset carries known labels, and each rater is scored on the
    * gold units it voted on — accuracy with a Wilson 95% interval
    * (small-n honest: a rater seen on 4 gold units cannot print a
    * confident 1.0). This is the MODEL-FREE companion to the
    * [[DawidSkene]] confusion estimates: DS infers rater reliability
    * from consensus, this measures it against truth — disagreement
    * between the two is itself a signal (a coordinated rater bloc
    * fools consensus but not gold). The Wilson tree mirrors
    * [[Preferences.itemWinRates]] / EventAnalytics.rateWilson
    * literally, so the bounds replay in SQL.
    *
    * Scale shape: votes semi-join the (small) gold table, then one
    * rater-keyed integer census — work proportional to gold coverage,
    * never the corpus.
    */
  def raterGoldEval(
      votes: DataFrame,
      unitCol: String,
      raterCol: String,
      labelCol: String,
      gold: DataFrame,
      goldUnitCol: String,
      goldLabelCol: String,
      z: Double = 1.96): DataFrame = {
    val v = votes.select(
        col(unitCol).cast("string").as("u"),
        col(raterCol).cast("string").as("r"),
        col(labelCol).cast("string").as("l"))
      .filter(col("u").isNotNull && col("r").isNotNull && col("l").isNotNull)
    val g = gold.select(
        col(goldUnitCol).cast("string").as("u"),
        col(goldLabelCol).cast("string").as("__gold"))
      .filter(col("u").isNotNull && col("__gold").isNotNull)
    val per = v.join(g, Seq("u"))
      .groupBy("r")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l") === col("__gold"), 1L).otherwise(0L)).as("k"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val z2n = (lit(z) * lit(z)) / nD
    val denom = lit(1.0) + z2n
    val center = (p + z2n / lit(2.0)) / denom
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nD
      + z2n / (lit(4.0) * nD))) / denom
    per.select(col("r").as("rater"), col("n").as("n_gold"),
      col("k").as("n_correct"),
      round(p, 6).as("accuracy"),
      round(center - half, 6).as("wilson_lo"),
      round(center + half, 6).as("wilson_hi"))
  }

}
