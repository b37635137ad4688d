package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import Census.{d6, r6}

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
  * (rater, label) order, with the class total folded in sorted-class
  * order — so a FIXED sweep count replays exactly in SQL with the
  * sweeps unrolled as CTEs.
  *
  * Scale shape: votes fold ONCE into a unit census — one row per unit
  * holding its votes, sorted by Spark — and every sweep is one
  * [[Census]] pass over it. The state that crosses sweeps is
  * rater-grain (the raters × classes² confusion grid and the class
  * priors), and a unit's posterior depends only on its own votes and
  * that state, so one term function runs the unit's E-step and adds its
  * M-step numerators and mass as exact decimals; the M-step division
  * runs on the driver. A sweep is no job when the census is collected
  * and one when it runs in place; the posterior is built once, after
  * the last sweep. Caveat: the per-unit product underflows double for
  * panels of many hundreds of raters (items × judges is the normal
  * grain — panels are small); every sweep counts the units whose class
  * total is not positive and [[fit]] fails loudly on any, instead of
  * shipping a silent NaN consensus. The class count L is assumed
  * bounded (it is the label vocabulary, not data-scale).
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
      smoothing: Double = 0.01): DawidSkeneFit =
    fit(df, unitCol, raterCol, labelCol, iters, smoothing, CollectBound.Default)

  private[graft] def fit(
      df: DataFrame, unitCol: String, raterCol: String, labelCol: String,
      iters: Int, smoothing: Double, bound: CollectBound): DawidSkeneFit = {
    val (post, confusion, priors) =
      fitCore(df, unitCol, raterCol, labelCol, iters, smoothing, bound)
    DawidSkeneFit(post.drop("n_votes"), confusion, priors)
  }

  /** Sweep keys: a confusion numerator, a class mass, and the count of
    * units whose every class product underflowed.
    */
  private final case class Num(r: String, j: String, l: String)
  private final case class Mass(j: String)
  private final case class Underflow()

  /** What the M-step hands the next E-step: π by (rater, class, label)
    * and the priors in class order.
    */
  private final case class State(pi: Map[(String, String, String), Double], prior: Array[Double])

  /** A unit's posterior over `classes` from its sorted (r, l) votes:
    * vote shares without a state, else prior × the product of the
    * votes' π, normalized by the class total; None when that total is
    * not positive (underflow).
    */
  private def unitPosterior(
      vs: Seq[Row], classes: Array[String], st: Option[State]): Option[Array[Double]] =
    st match {
      case None =>
        val m = vs.length.toDouble
        Some(classes.map(j => r6(vs.count(_.getString(1) == j).toDouble / m)))
      case Some(s) =>
        val num = classes.indices.map { k =>
          s.prior(k) * vs.foldLeft(1.0)((acc, v) =>
            acc * s.pi((v.getString(0), classes(k), v.getString(1))))
        }
        val tot = num.foldLeft(0.0)(_ + _)
        if (tot > 0.0) Some(num.map(x => r6(x / tot)).toArray) else None
    }

  /** The EM fit: (posterior with each unit's n_votes, confusion,
    * priors). The unit census is cached for the call and released
    * before returning; the posterior is driver-local or checkpointed.
    */
  private def fitCore(
      df: DataFrame, unitCol: String, raterCol: String, labelCol: String,
      iters: Int, smoothing: Double, bound: CollectBound)
      : (DataFrame, DataFrame, DataFrame) = {
    require(iters >= 0 && iters <= 50, s"iters in [0,50], got $iters")
    require(smoothing > 0.0, s"smoothing must be > 0, got $smoothing")
    val spark = df.sparkSession
    import spark.implicits._
    val census = df.select(
        col(unitCol).cast("string").as("u"),
        struct(col(raterCol).cast("string").as("r"),
          col(labelCol).cast("string").as("l")).as("v"))
      .filter(col("u").isNotNull && col("v.r").isNotNull && col("v.l").isNotNull)
      .groupBy("u").agg(array_sort(collect_list(col("v"))).as("vs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // unit count + the sorted class vocabulary (L is bounded by grain)
      val hd = census.agg(count(lit(1)),
        sort_array(array_distinct(flatten(collect_set(col("vs.l")))))).head()
      val nUnits = hd.getLong(0)
      val classes = hd.getSeq[String](1).toArray
      val aL = smoothing * classes.length.toDouble
      val units = Census(census, lit(120L) + lit(2L) * length(col("u")) +
        aggregate(col("vs"), lit(0L), (acc, v) =>
          acc + lit(120L) + lit(2L) * (length(v("r")) + length(v("l")))), bound)

      // E-step from `st`, fused with the M-step it feeds
      def sweep(st: Option[State]): State = {
        val s = units.sweep { (row, acc) =>
          val vs = row.getSeq[Row](1)
          unitPosterior(vs, classes, st) match {
            case Some(p) => classes.indices.foreach { k =>
              val t = d6(p(k))
              acc.add(Mass(classes(k)), t)
              vs.foreach(v => acc.add(Num(v.getString(0), classes(k), v.getString(1)), t))
            }
            case None => acc.add(Underflow(), BigDecimal(1))
          }
        }
        require(s(Underflow()).signum == 0,
          "DawidSkene.fit: posterior underflowed to null/NaN — a unit's " +
            "per-class vote product exhausted double range (panel too large " +
            "for the pinned product fold); reduce the per-unit panel size " +
            "or shard the vote set")
        val num = s.iterator.collect { case (n: Num, v) => n -> v }.toSeq
        val den = num.groupMapReduce { case (n, _) => (n.r, n.j) }(_._2)(_ + _)
        val pi = for {
          r <- num.map(_._1.r).distinct; j <- classes.toSeq; l <- classes.toSeq
        } yield (r, j, l) -> r6((s(Num(r, j, l)).toDouble + smoothing) /
          (den.getOrElse((r, j), Census.Zero6).toDouble + aL))
        State(pi.toMap, classes.map(j =>
          r6((s(Mass(j)).toDouble + smoothing) / (nUnits.toDouble + aL))))
      }
      // M(shares), then `iters` fused E→M sweeps; the posterior is the
      // last E-step's, so it reads the state before the last M-step
      val states = (1 to iters).scanLeft(sweep(None))((st, _) => sweep(Some(st)))
      val (read, state) = (states.lift(iters - 1), states.last)
      val post = units.emit(spark, StructType(Seq(
          StructField("u", StringType), StructField("j", StringType),
          StructField("p", DoubleType), StructField("n_votes", LongType)))) { row =>
        val vs = row.getSeq[Row](1)
        val p = unitPosterior(vs, classes, read).get
        classes.indices.iterator.map(k =>
          Row(row.getString(0), classes(k), p(k), vs.length.toLong))
      }
      val confusion = state.pi.toSeq.sorted
        .map { case ((r, j, l), pi) => (r, j, l, pi) }.toDF("r", "j", "l", "pi")
      (post, confusion, classes.toSeq.zip(state.prior).toDF("j", "prior"))
    } finally census.unpersist()
  }

  /** Per unit the posterior ranked by p desc, then label asc (the
    * deterministic tie-break): the top row with the runner-up's p.
    */
  private def ranked(posterior: DataFrame): DataFrame = {
    val w = Window.partitionBy("u").orderBy(col("p").desc, col("j").asc)
    posterior.withColumn("__p2", lead(col("p"), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
  }

  /** Consensus labels from a fitted posterior: per unit the maximum-
    * posterior class, ties to the lexicographically smaller label (the
    * deterministic tie-break), with the winning posterior attached.
    */
  def consensus(posterior: DataFrame): DataFrame =
    ranked(posterior).select(col("u"), col("j").as("label"), col("p").as("p_posterior"))

  /** ACTIVE-VOTE ROUTING readout — the "needs more votes" queue every
    * annotation pipeline drains: units whose fitted posterior MARGIN
    * (top class minus runner-up) falls below `marginBelow`, with the
    * current consensus label, the margin, and the unit's vote count —
    * so the next labeling batch goes where the model is least sure,
    * not round-robin. Pure composition of the oracled posterior chain:
    * the margin is one 6dp-grid subtraction of two grid posteriors, so
    * the whole queue replays in SQL on top of the unrolled EM sweeps.
    *
    * Scale shape: the fit, then one unit-keyed window rank over its
    * posterior (units × L rows, L bounded); the vote count rides the
    * posterior from the unit census.
    */
  def route(
      df: DataFrame,
      unitCol: String,
      raterCol: String,
      labelCol: String,
      iters: Int = 10,
      smoothing: Double = 0.01,
      marginBelow: Double = 0.5): DataFrame = {
    val (post, _, _) = fitCore(df, unitCol, raterCol, labelCol, iters, smoothing,
      CollectBound.Default)
    ranked(post)
      .select(col("u"), col("j").as("label"), col("p").as("p_posterior"),
        round(col("p") - coalesce(col("__p2"), lit(0.0)), 6).as("margin"),
        col("n_votes"))
      .filter(col("margin") < marginBelow)
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
