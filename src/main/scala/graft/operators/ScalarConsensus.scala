package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import Census.{d6, r6}

/** SCALAR-GRADE TRUTH INFERENCE — the continuous-response companion to
  * [[DawidSkene]]: reward-model and rubric pipelines collect per-
  * (unit, rater) SCALAR grades, and each rater reads the shared scale
  * through its own affine lens
  *   y_{u,r} = a_r + b_r · t_u + noise
  * (a_r: bias — a harsh or lenient offset; b_r: scale — a compressed
  * or stretched use of the rubric). Plain per-unit means let harsh
  * raters drag their units down and timid raters flatten real spread;
  * this model fits the rater lenses JOINTLY with the truths by
  * alternating least squares and reads consensus through them — what
  * interval-metric alpha ([[MlEval.krippendorffAlphaInterval]]) does
  * for graded AGREEMENT, this does for graded CONSENSUS.
  *
  * Alternation (fixed sweep count, each step exact closed-form):
  *   1. rater step — per rater, OLS of its grades on the current
  *      truths: b_r = (nΣty − ΣtΣy)/(nΣt² − (Σt)²),
  *      a_r = (Σy − b_r·Σt)/n. A rater whose observed truths are
  *      degenerate (zero variance) keeps b = 1 and absorbs the mean
  *      residual into a — a deterministic fallback, never a NaN.
  *   2. gauge fix — the model is affine-gauge-free ((a, b, t) ≡
  *      (a + b·c, b·d, (t − c)/d)), so raters normalize to mean-0 bias
  *      and mean-1 scale: a_r ← a_r − b_r·(ā/b̄), b_r ← b_r/b̄
  *      (skipped when b̄ ≤ 0 — a panel that anti-correlates with its
  *      own consensus has no meaningful scale to pin). The grades'
  *      own scale stays the reporting scale.
  *   3. truth step — precision-weighted readback
  *      t_u = Σ_r b_r·(y − a_r) / Σ_r b_r², falling back to the plain
  *      mean when the weight mass is zero.
  *
  * BITWISE-REPLAYABLE (the [[DawidSkene]] / [[Preferences.bradleyTerry]]
  * posture): grades land on the 6dp grid at ingestion; every per-row
  * product lands back on the grid before an exact decimal fold
  * (order-free sums); each a/b/t is a fixed-order IEEE assembly
  * rounded to the grid; the gauge means are exact folds over the
  * bounded rater table on the driver. A fixed
  * sweep count therefore replays exactly in SQL with the sweeps
  * unrolled as CTEs.
  *
  * Scale shape: grades fold ONCE into a unit census — one row per
  * unit holding its (rater, grade) votes — and every sweep is one
  * [[Census]] pass over it. The state that crosses sweeps is
  * rater-grain (each rater's lens), and a unit's truth depends only on
  * its own grades and the lenses, so one term function runs the unit's
  * truth step and adds its five rater sufficient statistics as exact
  * decimals; OLS and the gauge fix run on the driver. A sweep is no job
  * when the census is collected and one when it runs in place; the
  * truth table is built once, after the last sweep. Work per sweep is
  * proportional to votes — never units² or raters².
  */
object ScalarConsensus {

  /** The fitted model: `truth` (u, truth, n_votes) — the consensus
    * grade per unit on the panel's common scale; `raters`
    * (r, n_votes, bias, scale) — each rater's fitted affine lens,
    * gauge-normalized to mean-0 bias / mean-1 scale.
    */
  final case class ScalarFit(truth: DataFrame, raters: DataFrame)

  def fit(
      df: DataFrame,
      unitCol: String,
      raterCol: String,
      valueCol: String,
      iters: Int = 5): ScalarFit =
    fit(df, unitCol, raterCol, valueCol, iters, CollectBound.Default)

  /** A unit's truth from its (r, y) grades: the plain mean without
    * lenses, else the precision-weighted readback Σ b(y − a) / Σ b²,
    * falling back to the mean when the weight mass is not positive.
    */
  private def truthOf(vs: Seq[Row], lens: Option[Map[String, (Double, Double)]]): Double = {
    val mean = r6(vs.foldLeft(Census.Zero6)((s, v) => s + d6(v.getDouble(1))).toDouble /
      vs.length.toDouble)
    lens.fold(mean) { l =>
      var num, den = Census.Zero6
      vs.foreach { v =>
        val (a, b) = l(v.getString(0))
        num += d6(b * (v.getDouble(1) - a))
        den += d6(b * b)
      }
      if (den.toDouble > 0.0) r6(num.toDouble / den.toDouble) else mean
    }
  }

  /** `iters` fused sweeps — each a truth step from the current lenses
    * (the plain means first) and the rater step it feeds — then one
    * truth readback through the final lenses.
    */
  private[graft] def fit(
      df: DataFrame, unitCol: String, raterCol: String, valueCol: String,
      iters: Int, bound: CollectBound): ScalarFit = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50], got $iters")
    val spark = df.sparkSession
    import spark.implicits._
    val census = df.select(
        col(unitCol).cast("string").as("u"),
        struct(col(raterCol).cast("string").as("r"),
          round(col(valueCol).cast("double"), 6).as("y")).as("v"))
      .filter(col("u").isNotNull && col("v.r").isNotNull && col("v.y").isNotNull)
      .groupBy("u").agg(collect_list(col("v")).as("vs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val units = Census(census, lit(120L) + lit(2L) * length(col("u")) +
        aggregate(col("vs"), lit(0L), (acc, v) => acc + lit(140L) + lit(2L) * length(v("r"))),
        bound)
      // one fused sweep: each unit's truth through `lens` and its rater
      // statistics n, Σt, Σy, Σty, Σt² (keys (r, 0..4)), then OLS and
      // the gauge fix per rater on the driver
      def sweep(lens: Option[Map[String, (Double, Double)]]) = {
        val s = units.sweep { (row, acc) =>
          val vs = row.getSeq[Row](1)
          val t = truthOf(vs, lens)
          vs.foreach { v =>
            val (r, y) = (v.getString(0), v.getDouble(1))
            acc.add((r, 0), BigDecimal(1))
            acc.add((r, 1), d6(t))
            acc.add((r, 2), d6(y))
            acc.add((r, 3), d6(t * y))
            acc.add((r, 4), d6(t * t))
          }
        }
        // OLS per rater: b = (nΣty − ΣtΣy)/(nΣt² − (Σt)²) when the
        // denom is positive, else 1; a = (Σy − b·Σt)/n
        val rFit = s.iterator.collect { case ((r: String, 0), n) => (r, n.toLong) }
          .toSeq.sorted.map { case (r, n) =>
            val nD = n.toDouble
            val Seq(stD, syD, styD, sttD) = (1 to 4).map(k => s((r, k)).toDouble)
            val denom = nD * sttD - stD * stD
            val b = if (denom > 0.0) r6((nD * styD - stD * syD) / denom) else 1.0
            (r, n, r6((syD - b * stD) / nD), b)
          }
        require(rFit.nonEmpty, "scalar consensus needs at least one rater")
        // gauge: exact scale-6 decimal folds of the 6dp a/b values
        val nRaters = rFit.length.toDouble
        val aBar = r6(rFit.map(x => BigDecimal(x._3).setScale(6)).sum.toDouble / nRaters)
        val bBar = r6(rFit.map(x => BigDecimal(x._4).setScale(6)).sum.toDouble / nRaters)
        if (bBar > 0.0) {
          val q = r6(aBar / bBar)
          rFit.map { case (r, n, a, b) => (r, n, r6(a - b * q), r6(b / bBar)) }
        } else rFit
      }
      def lensOf(raters: Seq[(String, Long, Double, Double)]) =
        Some(raters.map { case (r, _, a, b) => r -> (a, b) }.toMap)
      val raters = (2 to iters).foldLeft(sweep(None))((rs, _) => sweep(lensOf(rs)))
      val lens = lensOf(raters)
      val truth = units.emit(spark, StructType(Seq(StructField("u", StringType),
          StructField("truth", DoubleType), StructField("n_votes", LongType)))) { row =>
        val vs = row.getSeq[Row](1)
        Iterator(Row(row.getString(0), truthOf(vs, lens), vs.length.toLong))
      }
      ScalarFit(truth, raters.toDF("r", "n_votes", "bias", "scale"))
    } finally census.unpersist()
  }

  /** One-call consensus form: fit + the truth table. */
  def consensus(
      df: DataFrame,
      unitCol: String,
      raterCol: String,
      valueCol: String,
      iters: Int = 5): DataFrame =
    fit(df, unitCol, raterCol, valueCol, iters).truth
}
