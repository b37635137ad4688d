package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Census.r6

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
  * rounded to the grid; the gauge means are bounded rater-grain folds
  * (one tiny driver action per sweep, the DS-priors pattern). A fixed
  * sweep count therefore replays exactly in SQL with the sweeps
  * unrolled as CTEs.
  *
  * Scale shape: votes fold once per sweep into the bounded rater
  * table (one rater-keyed aggregation over votes ⋈ truth) and once
  * into the unit truths (one unit-keyed aggregation with the rater
  * lenses broadcast); the truth state localCheckpoints per sweep so
  * plan depth stays constant. Work per sweep is proportional to
  * votes — never units² or raters².
  */
object ScalarConsensus {

  /** The fitted model: `truth` (u, truth, n_votes) — the consensus
    * grade per unit on the panel's common scale; `raters`
    * (r, bias, scale, n_votes) — each rater's fitted affine lens,
    * gauge-normalized to mean-0 bias / mean-1 scale.
    */
  final case class ScalarFit(truth: DataFrame, raters: DataFrame)

  private def dec(c: Column): Column = c.cast("decimal(28,6)")

  def fit(
      df: DataFrame,
      unitCol: String,
      raterCol: String,
      valueCol: String,
      iters: Int = 5): ScalarFit = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50], got $iters")
    val votes = df.select(
        col(unitCol).cast("string").as("u"),
        col(raterCol).cast("string").as("r"),
        round(col(valueCol).cast("double"), 6).as("y"))
      .filter(col("u").isNotNull && col("r").isNotNull && col("y").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRaters = votes.select("r").distinct().count()
    require(nRaters >= 1, "scalar consensus needs at least one rater")

    // init: per-unit plain mean on the grid (the model every harsh-
    // rater story starts from)
    var truth = votes.groupBy("u")
      .agg(count(lit(1)).as("__m"), sum(dec(col("y"))).as("__sy"))
      .select(col("u"),
        round(col("__sy").cast("double") / col("__m").cast("double"), 6)
          .as("t"))
      // LAZY checkpoint (r19, the DawidSkene sweep pattern): the next
      // sweep's sufficient-statistics collect materializes the state,
      // so each sweep schedules one job instead of two
      .localCheckpoint(false)
    var raters: DataFrame = null

    // r19 sweep shape (guide §2.4, the DawidSkene.fitCore pattern): the
    // rater table is BOUNDED, so each sweep runs ONE distributed job —
    // the five exact sufficient statistics per rater, collected — and
    // the OLS + gauge assemblies fold on the driver with the house
    // byte-identical arithmetic (Census.r6 == Spark round(…, 6), the
    // Census fold's posture, spec-pinned): each cast is
    // BigDecimal.doubleValue, each assembly the same fixed-order IEEE
    // chain, the gauge sums exact scale-6 BigDecimal adds. The rater
    // lenses then enter the truth step as a LOCAL relation, so the old
    // per-sweep rFit/raters checkpoint jobs, the gauge job and the
    // broadcast-exchange build are all gone from the distributed plan.
    val spark = votes.sparkSession
    import spark.implicits._
    for (_ <- 1 to iters) {
      // rater step: the sweep's one rater-keyed distributed job
      val rsRows = votes.join(truth, Seq("u"))
        .groupBy("r")
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("t"))).as("__st"),
          sum(dec(col("y"))).as("__sy"),
          sum(dec(round(col("t") * col("y"), 6))).as("__sty"),
          sum(dec(round(col("t") * col("t"), 6))).as("__stt"))
        .collect()
      // OLS per rater: b = (nΣty − ΣtΣy)/(nΣt² − (Σt)²) when the
      // denom is positive, else 1; a = (Σy − b·Σt)/n — the verbatim
      // old column expressions, folded on the driver
      val rFit = rsRows.map { row =>
        val n = row.getLong(1)
        val nD = n.toDouble
        val stD = row.getDecimal(2).doubleValue
        val syD = row.getDecimal(3).doubleValue
        val styD = row.getDecimal(4).doubleValue
        val sttD = row.getDecimal(5).doubleValue
        val denom = nD * sttD - stD * stD
        val b =
          if (denom > 0.0) r6((nD * styD - stD * syD) / denom) else 1.0
        val a = r6((syD - b * stD) / nD)
        (row.getString(0), n, a, b)
      }
      // gauge: exact scale-6 decimal folds of the 6dp a/b values
      val sa = rFit.iterator.map { case (_, _, a, _) =>
        BigDecimal(a).setScale(6) }.foldLeft(BigDecimal(0).setScale(6))(_ + _)
      val sb = rFit.iterator.map { case (_, _, _, b) =>
        BigDecimal(b).setScale(6) }.foldLeft(BigDecimal(0).setScale(6))(_ + _)
      val aBar = r6(sa.toDouble / nRaters.toDouble)
      val bBar = r6(sb.toDouble / nRaters.toDouble)
      val raterRows =
        if (bBar > 0.0) {
          val q = r6(aBar / bBar)
          rFit.map { case (r, n, a, b) =>
            (r, n, r6(a - b * q), r6(b / bBar))
          }
        } else rFit
      raters = raterRows.toSeq
        .toDF("r", "n_votes", "bias", "scale")
      // truth step: precision-weighted readback through the lenses
      truth = votes
        .join(broadcast(raters.select(col("r"), col("bias"), col("scale"))),
          Seq("r"))
        .groupBy("u")
        .agg(
          count(lit(1)).as("__m"),
          sum(dec(round(col("scale") * (col("y") - col("bias")), 6)))
            .as("__num"),
          sum(dec(round(col("scale") * col("scale"), 6))).as("__den"),
          sum(dec(col("y"))).as("__sy"))
        .select(col("u"),
          when(col("__den").cast("double") > 0.0,
            round(col("__num").cast("double") / col("__den").cast("double"), 6))
          .otherwise(
            round(col("__sy").cast("double") / col("__m").cast("double"), 6))
          .as("t"))
        .localCheckpoint(false) // lazy — next sweep's collect materializes
    }

    val nVotes = votes.groupBy("u").agg(count(lit(1)).as("n_votes"))
    val truthOut = truth.join(nVotes, Seq("u"))
      .select(col("u"), col("t").as("truth"), col("n_votes"))
      .localCheckpoint(true)
    votes.unpersist()
    ScalarFit(truthOut, raters)
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
