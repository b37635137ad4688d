package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Census.r6

/** DAWID-SKENE LABEL AGGREGATION (Dawid & Skene 1979, "Maximum
  * likelihood estimation of observer error-rates using the EM
  * algorithm"): the truth-inference step every annotation / judge-model
  * pipeline runs AFTER measuring agreement — the kappa/alpha family
  * (see [[MlEval.cohenKappa]] etc.) says whether raters agree; this
  * produces the CONSENSUS LABELS, weighting each rater by its own
  * estimated confusion matrix instead of counting votes equally (a
  * reliable annotator outvotes two noisy ones, and a systematically
  * confused one gets its flips corrected, not just discounted).
  *
  * EM over soft labels:
  *   - E: P(unit u is class j) ∝ prior_j · Π_{(r,l) votes on u} π_r(j,l)
  *   - M: π_r(j,l) = Σ_u p(u,j)·[r voted l on u] / Σ_u p(u,j)·[r voted on u]
  *        prior_j  = Σ_u p(u,j) / N
  * initialized from vote shares (majority voting), Laplace-smoothed by
  * `smoothing` so no class or confusion cell ever hard-zeroes.
  *
  * BITWISE-REPLAYABLE FIT (the [[Preferences.bradleyTerry]] posture —
  * almost no engine makes an EM fit oracle-checkable): every posterior
  * iterate lands on the 6dp grid; the M-step numerators/denominators
  * fold those grid values as EXACT decimals (order-free sums); each π
  * and prior is ONE fixed-order IEEE division rounded back to the
  * grid; and the E-step's product over a unit's votes folds in SORTED
  * (rater, label) order from an explicit array fold, with the class
  * total folded in sorted-class order — so a FIXED sweep count replays
  * exactly in SQL with the sweeps unrolled as CTEs.
  *
  * Scale shape: votes fold once per sweep into the bounded confusion
  * grid (raters × classes²) and class priors; the per-unit E-step is
  * one |votes|×L join + a unit-keyed aggregation — work proportional
  * to votes × classes, never units², with the posterior state
  * localCheckpoint'd so plan depth stays constant across sweeps.
  * Caveat: the per-unit product underflows double for panels of many
  * hundreds of raters (items × judges is the normal grain — panels are
  * small); [[fit]] GUARDS this — a null/NaN posterior fails loudly
  * instead of shipping a silent NaN consensus. The class count L is
  * assumed bounded (it is the label vocabulary, not data-scale).
  */
object DawidSkene {

  /** The fitted model: `posterior` (u, j, p) — P(unit u is class j),
    * 6dp; `confusion` (r, j, l, pi) — the COMPLETE raters × classes²
    * grid, smoothed; `priors` (j, prior).
    */
  final case class DawidSkeneFit(
      posterior: DataFrame, confusion: DataFrame, priors: DataFrame)

  /** Fit by `iters` EM sweeps over long-form votes (one row per
    * (unit, rater, label) observation; raters may abstain on any unit
    * — unlike [[MlEval.fleissKappa]] the panel need not be balanced).
    * `iters = 0` returns the vote-share initialization unchanged — the
    * majority-vote identity pin (uniform raters = plain voting).
    */
  def fit(
      df: DataFrame,
      unitCol: String,
      raterCol: String,
      labelCol: String,
      iters: Int = 10,
      smoothing: Double = 0.01): DawidSkeneFit = {
    val votes = normalizeVotes(df, unitCol, raterCol, labelCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fitCore(votes, iters, smoothing)
    finally votes.unpersist()
  }

  /** (u, r, l) string-normalized non-null votes — the record grain the
    * whole fit (and [[route]]'s vote census) folds.
    */
  private def normalizeVotes(
      df: DataFrame,
      unitCol: String,
      raterCol: String,
      labelCol: String): DataFrame =
    df.select(
        col(unitCol).cast("string").as("u"),
        col(raterCol).cast("string").as("r"),
        col(labelCol).cast("string").as("l"))
      .filter(col("u").isNotNull && col("r").isNotNull && col("l").isNotNull)

  /** The EM fit over caller-persisted normalized votes. r19 sweep
    * shape (guide §2.4 — remove exchanges outright): the M-step's
    * confusion numerators and class masses are BOUNDED aggregates
    * (raters × classes² and classes), so each sweep runs ONE
    * distributed job — a union of the two folds, collected — and the
    * complete smoothed grid is assembled as a LOCAL relation whose
    * π/prior cells are computed by the SAME Spark expressions as the
    * old distributed M-step (coalesce over the identical decimal
    * types, one IEEE division, 6dp round — bitwise-identical by
    * construction, spec- and oracle-pinned). The old per-sweep
    * broadcast-exchange subtree (votes.distinct raters scan + two
    * crossJoins + two grid joins) is gone from the plan; the E-step
    * joins the local grid and pays the sweep's only unit-keyed
    * shuffle. Exact-decimal sums are order-free, so folding the den
    * on the driver (BigDecimal adds over the collected scale-6
    * numerators) equals the old distributed decimal sum bit-for-bit.
    */
  private def fitCore(
      votes: DataFrame,
      iters: Int,
      smoothing: Double): DawidSkeneFit = {
    require(iters >= 0 && iters <= 50, s"iters in [0,50], got $iters")
    require(smoothing > 0.0, s"smoothing must be > 0, got $smoothing")
    val spark = votes.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DecimalType, StringType, StructField, StructType}
    // ONE bounded job for the fit's scalars: unit count + the sorted
    // class vocabulary (L is the label vocabulary — bounded by grain).
    val hd = votes.agg(
        countDistinct(col("u")).as("nu"),
        sort_array(collect_set(col("l"))).as("cls"))
      .head()
    val nUnits = hd.getLong(0)
    val classesArr: Seq[String] = hd.getSeq[String](1)
    val classesLit = typedLit(classesArr)
    // driver-side smoothing aggregate: α·L (the denominator add-on);
    // replays as the literal product in SQL (power-of-two-free double
    // products are written identically on both engines)
    val aL = smoothing * classesArr.length.toDouble

    // init: vote shares over the full unit × class grid (zero-vote
    // classes participate from sweep 1 via the smoothed priors/π) —
    // one unit-keyed shuffle; per-class counts fold row-locally from
    // the unit's collected label list (same integer counts as the old
    // (u,l) groupBy + grid join, one exchange instead of two + join).
    var post = votes.groupBy("u")
      .agg(count(lit(1)).as("__m"), collect_list(col("l")).as("__ls"))
      .select(col("u"), col("__m"), col("__ls"), explode(classesLit).as("j"))
      .select(col("u"), col("j"),
        round(size(filter(col("__ls"), x => x === col("j"))).cast("double")
          / col("__m").cast("double"), 6).as("p"))
      // LAZY checkpoint (r19): the next sweep's union-aggregate collect
      // is the materializing action, so each sweep schedules ONE job
      // instead of a checkpoint job + a collect job; lineage still
      // truncates at first materialization, keeping plan depth flat
      .localCheckpoint(false)

    // One union-aggregate job per sweep, ONE exchange: the confusion
    // numerators (exact decimal folds of grid posteriors) and the
    // class masses fold through a single tagged groupBy — num rows key
    // (1, r, j, l), mass rows (2, null, j, null) — and collect to the
    // bounded grid. Every rater appears for every class (post is the
    // full unit × class grid), so the collected numerators span the
    // complete observed grid and the rater census needs no separate
    // distinct scan. The π/prior cells then assemble on the DRIVER
    // with the house byte-identical arithmetic (Census.r6 == Spark
    // round(…, 6), BigDecimal.doubleValue == the decimal→double cast,
    // exact scale-6 adds == the old den sum — the Census fold's
    // posture, spec- and oracle-pinned), so no per-sweep priors job
    // and no broadcast-exchange subtree remain in the plan.
    def mStep(p: DataFrame): (Seq[(String, String, String, Double)], Seq[(String, Double)]) = {
      val rows = votes.join(p, Seq("u"))
        .select(lit(1).as("t"), col("r"), col("j"), col("l"), col("p"))
        .unionByName(p.select(lit(2).as("t"),
          lit(null).cast("string").as("r"), col("j"),
          lit(null).cast("string").as("l"), col("p")))
        .groupBy("t", "r", "j", "l")
        .agg(sum(col("p").cast("decimal(28,6)")).as("v"))
        .collect()
      val numMap = scala.collection.mutable.Map.empty[(String, String, String), java.math.BigDecimal]
      val massMap = scala.collection.mutable.Map.empty[String, java.math.BigDecimal]
      rows.foreach { r =>
        // a null sum (all-null posteriors in the group — the underflow
        // state the loud gate below reports) reads as an absent cell,
        // matching the old distributed coalesce(num, 0)
        if (r.getDecimal(4) != null) {
          if (r.getInt(0) == 1)
            numMap((r.getString(1), r.getString(2), r.getString(3))) =
              r.getDecimal(4)
          else massMap(r.getString(2)) = r.getDecimal(4)
        }
      }
      // den: exact scale-6 decimal adds — order-free, bit-equal to the
      // old distributed sum over the same numerators
      val denMap = scala.collection.mutable.Map.empty[(String, String), java.math.BigDecimal]
      numMap.foreach { case ((r, j, _), v) =>
        denMap((r, j)) = denMap.get((r, j)).map(_.add(v)).getOrElse(v)
      }
      val raters = numMap.keysIterator.map(_._1).toSeq.distinct.sorted
      // complete grid: raters × classes² with unobserved cells at the
      // smoothing floor — π = round((num + s)/(den + αL), 6), the same
      // fixed-order IEEE chain as the old column expression
      val conf =
        for (r <- raters; j <- classesArr; l <- classesArr) yield {
          val numD = numMap.get((r, j, l)).map(_.doubleValue).getOrElse(0.0)
          val denD = denMap.get((r, j)).map(_.doubleValue).getOrElse(0.0)
          (r, j, l, r6((numD + smoothing) / (denD + aL)))
        }
      val priors = massMap.keysIterator.toSeq.sorted.map { j =>
        j -> r6((massMap(j).doubleValue + smoothing)
          / (nUnits.toDouble + aL))
      }
      (conf, priors)
    }

    import spark.implicits._
    for (_ <- 1 to iters) {
      val (confRows, priorRows) = mStep(post)
      val conf = confRows.toDF("r", "j", "l", "pi")
      // E: ONE unit-keyed shuffle per sweep (r17 fusion — was two
      // groupBys plus a join). Per unit, the votes collect once sorted
      // by (class, rater, label); per class the product folds over the
      // class's sublist in SORTED (rater, label) order — the same
      // pinned IEEE multiply chain as the unfused form (a global
      // (j,r,l,pi) sort filtered to one class IS the (r,l,pi) sort) —
      // and the class total folds in sorted-class order row-locally.
      // Priors enter as a literal class-sorted array (a bounded
      // per-sweep aggregate, already sorted on the driver).
      val priorArr = priorRows
        .map { case (j, pr) => struct(lit(j).as("j"), lit(pr).as("prior")) }
      post = votes.join(broadcast(conf), Seq("r", "l"))
        .groupBy("u")
        .agg(array_sort(collect_list(
          struct(col("j"), col("r"), col("l"), col("pi")))).as("__vs"))
        .withColumn("__nums", transform(array(priorArr.toSeq: _*), p =>
          struct(p.getField("j").as("j"),
            (p.getField("prior") * aggregate(
              filter(col("__vs"), v => v.getField("j") === p.getField("j")),
              lit(1.0),
              (acc, x) => acc * x.getField("pi"))).as("num"))))
        .withColumn("__tot", aggregate(col("__nums"), lit(0.0),
          (acc, x) => acc + x.getField("num")))
        .select(col("u"), explode(transform(col("__nums"), x =>
          // the > 0 gate is inert on healthy data (same division, same
          // rounding) — it exists so a fully-underflowed unit (every
          // class product at 0.0) surfaces as a null posterior for the
          // loud require below instead of an opaque ANSI 0/0 error
          // mid-job
          struct(x.getField("j").as("j"),
            when(col("__tot") > 0.0,
              round(x.getField("num") / col("__tot"), 6)).as("p")))).as("__pj"))
        .select(col("u"), col("__pj.j").as("j"), col("__pj.p").as("p"))
        .localCheckpoint(false) // lazy — next sweep's collect materializes
    }

    // Loud underflow gate (r17 advice): a unit's per-class vote-product
    // folds raw 6dp π values from 1.0, so panels of many hundreds of
    // raters can exhaust double range — num/__tot then goes 0/0 → NaN
    // (or null once propagated). Panels are small by grain (items ×
    // judges), so this is a structural caveat — but it must fail
    // loudly, never ship a silent NaN consensus. One bounded scan of
    // the checkpointed posterior, run BEFORE the final M-step (which
    // now collects eagerly and would trip over the null posterior).
    require(
      post.filter(col("p").isNull || isnan(col("p"))).limit(1).count() == 0L,
      "DawidSkene.fit: posterior underflowed to null/NaN — a unit's " +
        "per-class vote product exhausted double range (panel too large " +
        "for the pinned product fold); reduce the per-unit panel size " +
        "or shard the vote set")
    // The final M-step's outputs are LOCAL relations (driver-assembled
    // grid rows), so no checkpoint is needed to release the vote cache
    // — their lineage never touches it (r17 advice honored for free).
    val (confRows, priorRows) = mStep(post)
    val conf = confRows.toDF("r", "j", "l", "pi")
    val priors = priorRows.toDF("j", "prior")
    DawidSkeneFit(post, conf, priors)
  }

  /** Consensus labels from a fitted posterior: per unit the maximum-
    * posterior class, ties to the lexicographically smaller label (the
    * deterministic tie-break), with the winning posterior attached.
    */
  def consensus(posterior: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("p").desc, col("j").asc)
    posterior
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("u"), col("j").as("label"), col("p").as("p_posterior"))
  }

  /** ACTIVE-VOTE ROUTING readout — the "needs more votes" queue every
    * annotation pipeline drains: units whose fitted posterior MARGIN
    * (top class minus runner-up) falls below `marginBelow`, with the
    * current consensus label, the margin, and the unit's vote count —
    * so the next labeling batch goes where the model is least sure,
    * not round-robin. Pure composition of the oracled posterior chain:
    * the margin is one 6dp-grid subtraction of two grid posteriors and
    * the vote census one unit-keyed count, so the whole queue replays
    * in SQL on top of the unrolled EM sweeps.
    *
    * Scale shape: one unit-keyed window rank over the posterior
    * (units × L rows, L bounded) + one vote census — nothing beyond
    * the fit's own cost.
    */
  def route(
      df: DataFrame,
      unitCol: String,
      raterCol: String,
      labelCol: String,
      iters: Int = 10,
      smoothing: Double = 0.01,
      marginBelow: Double = 0.5): DataFrame = {
    // r19: normalize + persist ONCE and share between the fit and the
    // vote census — the old form re-derived the census from the raw
    // source (a second full scan of whatever expressions feed the
    // votes, e.g. the panel's text kernels). The queue materializes
    // (unit-grain, margin-filtered — the actionable readout a pipeline
    // keeps anyway) so the cache releases before return.
    val votes = normalizeVotes(df, unitCol, raterCol, labelCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val f = fitCore(votes, iters, smoothing)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(col("p").desc, col("j").asc)
      val ranked = f.posterior.withColumn("__rn", row_number().over(w))
      val top = ranked.filter(col("__rn") === 1)
        .select(col("u"), col("j").as("label"), col("p").as("__p1"))
      val second = ranked.filter(col("__rn") === 2)
        .select(col("u"), col("p").as("__p2"))
      val nVotes = votes.groupBy("u").agg(count(lit(1)).as("n_votes"))
      top.join(second, Seq("u"), "left")
        .select(col("u"), col("label"), col("__p1").as("p_posterior"),
          round(col("__p1") - coalesce(col("__p2"), lit(0.0)), 6).as("margin"))
        .filter(col("margin") < marginBelow)
        .join(nVotes, Seq("u"))
        .localCheckpoint(true)
    } finally votes.unpersist()
  }

  /** One-call form: fit + consensus. */
  def label(
      df: DataFrame,
      unitCol: String,
      raterCol: String,
      labelCol: String,
      iters: Int = 10,
      smoothing: Double = 0.01): DataFrame =
    consensus(fit(df, unitCol, raterCol, labelCol, iters, smoothing).posterior)
}
