package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-based anomaly scoring — the batch statistical complement
  * to the trailing-window deviation features (BehavioralFeatures W2-W3,
  * reference features.py): score each row against its GROUP's
  * distribution instead of its own history.
  *
  * Robust statistics by design: mean/stddev z-scores are themselves
  * dragged by the outliers they are meant to find (masking); the median
  * and the median absolute deviation have a 50% breakdown point, so a
  * fraud burst cannot hide itself by inflating the baseline.
  */
object Anomaly {

  /** Daily mean on the 6dp decimal grid — the engine-portable roll-up
    * every daily-series operator here seeds from (EWMA, Holt,
    * Holt-Winters, CUSUM, ACF, OLS trend, seasonal decomposition,
    * period detection). A bare `round(avg(double), 6)` is
    * summation-ORDER-dependent — cross-partition in Spark, engine
    * order in a DuckDB replay — so a mean landing half an ulp from a
    * 6dp rounding boundary flips its last decimal between engines (the
    * r13 `q_seasonal_decompose` hash fail). Staged instead: quantize
    * each value onto the grid (round, then an exact decimal cast), sum
    * EXACTLY as decimal(18,6) (associative, order-free, bit-portable),
    * cast the one sum to double, divide by the non-null count — from
    * there the arithmetic is a single scalar IEEE division plus round,
    * identical in any engine. Every oracle mirrors this staging
    * verbatim in its daily CTE.
    */
  private[graft] def dailyMean(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String): DataFrame =
    df.groupBy(col(groupCol), to_date(col(tsCol)).as("day"))
      .agg(round(
        sum(round(col(valueCol), 6).cast("decimal(18,6)")).cast("double")
          / count(col(valueCol)), 6).as("m"))

  /** Order-free sample standard deviation of a 6dp-grid column from
    * exact decimal moment sums: n, Σv, Σv² summed as decimals (the
    * inputs are on the grid, so the products need 12dp — exact in
    * decimal(37,12)), each cast to double ONCE, then the textbook
    * sqrt((nΣv² − (Σv)²)/(n(n−1))) in one fixed scalar
    * parenthesization. `stddev_samp` over doubles folds in partition /
    * engine order and can flip the 6th decimal at a boundary; this
    * cannot. Guards: n < 2 → null (stddev_samp's own convention);
    * float dust can leave the discriminant a hair negative for
    * constant series → clamped at 0. Takes the three already-summed
    * moments so window and groupBy aggregation shapes share the one
    * scalar formula.
    */
  private def stdFromMoments(n: Column, s: Column, ss: Column): Column =
    when(n >= 2,
      round(sqrt(greatest((n * ss - s * s) / (n * (n - 1)), lit(0.0))), 6))

  /** Robust z-score per row: (x - median_g) / (1.4826 * MAD_g), where g
    * is the row's group and 1.4826 scales MAD to estimate sigma under
    * normality (1/Phi^-1(0.75)). Rows with |z| > threshold are flagged.
    * MAD = 0 (constant-majority groups) yields null scores, never a
    * division blowup.
    *
    * Scale shape: the fact table is scanned THREE times (the floor for
    * two-level exact medians: the med aggregation, the |x-med|
    * aggregation, and the final scoring join) — the per-group med table
    * is tiny (one row per group); both stats joins broadcast.
    * `exact = false` swaps the exact percentile (full per-group value
    * buffer) for approx_percentile's bounded-memory sketch — the 100 TB
    * path, same plan shape.
    */
  def robustZScore(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      threshold: Double = 3.5,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame =
    scoreAgainstStats(df, groupCol, valueCol,
      robustStats(df, groupCol, valueCol, exact, accuracy), threshold)

  /** Fit the per-group robust baseline: one (group, med, mad) row per
    * group — the FROZEN-STATS half of the anomaly split. Persisting
    * this table to storage and scoring later batches/streams against
    * it ([[scoreAgainstStats]]) is the production shape: the baseline
    * refreshes on ITS schedule (nightly, on clean history), so an
    * anomaly burst cannot inflate the very statistics meant to catch
    * it — the train/serve separation self-scoring lacks. Columns are
    * `g`/`med`/`mad` (storage-friendly); metadata-sized (one row per
    * group). Caches nothing: the med table's two consumers share its
    * aggregation's shuffle through exchange reuse, so only the
    * one-row-per-group final aggregate runs twice.
    */
  def robustStats(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    def median(c: Column): Column =
      if (exact) percentile(c, lit(0.5))
      else approx_percentile(c, lit(0.5), lit(accuracy))
    val meds = df.groupBy(col(groupCol))
      .agg(median(col(valueCol)).as("med"))
      .withColumnRenamed(groupCol, "_g")
    val mads = df.join(broadcast(meds), col(groupCol) === col("_g")).drop("_g")
      .groupBy(col(groupCol))
      .agg(median(abs(col(valueCol) - col("med"))).as("mad"))
      .withColumnRenamed(groupCol, "_g")
    meds.join(mads, "_g").withColumnRenamed("_g", "g")
  }

  /** Score rows against a (g, med, mad) baseline table — row-local
    * beyond one broadcast of the metadata-sized stats (stream-static
    * joinable, so the same call scores a micro-batch). Rows whose
    * group has NO baseline row score null / not-outlier, like the
    * MAD = 0 convention: no defined baseline, no verdict.
    */
  def scoreAgainstStats(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      stats: DataFrame,
      threshold: Double = 3.5): DataFrame =
    df.join(broadcast(stats.select(col("g").as("_g"),
        col("med").as("_med"), col("mad").as("_mad"))),
        col(groupCol) === col("_g"), "left")
      .drop("_g")
      .withColumn("robust_z",
        when(col("_mad") > 0,
          round((col(valueCol) - col("_med")) / (lit(1.4826) * col("_mad")), 6)))
      .withColumn("is_outlier", coalesce(abs(col("robust_z")) > threshold, lit(false)))
      .withColumnRenamed("_med", "med")
      .withColumnRenamed("_mad", "mad")

  /** SEASONAL robust z-score: score each row against its
    * (group, calendar-bucket) distribution instead of the whole group —
    * "is this value unusual FOR 3 AM" rather than "unusual overall".
    * The fraud/ops question the plain group baseline cannot answer: a
    * mid-range value can be wildly anomalous for its hour while sitting
    * comfortably inside the all-day distribution (spec-pinned with
    * exactly that fixture). Season buckets: "hod" hour-of-day (0-23),
    * "dow" day-of-week (1-7), "how" hour-of-week (0-167).
    *
    * Pure composition: [[robustZScore]] over the composite
    * (group, bucket) key, so the scale shape is inherited (three fact
    * scans, broadcast stats joins, the exact/approx percentile switch)
    * and the stats table grows by at most 168 rows per group — still
    * metadata. The emitted `season_bucket` column names the baseline
    * each row was judged against.
    */
  def seasonalRobustZ(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      season: String = "hod",
      threshold: Double = 3.5,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    val bucket = season match {
      case "hod" => hour(col(tsCol))
      case "dow" => dayofweek(col(tsCol))
      case "how" => (dayofweek(col(tsCol)) - 1) * 24 + hour(col(tsCol))
      case other => throw new IllegalArgumentException(
        s"unknown season '$other' - one of hod, dow, how")
    }
    robustZScore(
        df.withColumn("season_bucket", bucket.cast("int"))
          .withColumn("__sg",
            concat_ws("#", col(groupCol), col("season_bucket"))),
        "__sg", valueCol, threshold, exact, accuracy)
      .drop("__sg")
  }

  /** Benford first-digit deviation per group — the classic forensic
    * fraud screen (Nigrini 1996): natural multi-scale amounts follow
    * P(d) = log10(1 + 1/d) for the leading digit d, while fabricated or
    * capped amounts pile onto favorite digits. Emits one row per
    * (group, digit 1-9) with observed vs expected shares and the group's
    * chi-square statistic (n * sum (obs-exp)^2 / exp, df = 8) repeated
    * on every row so a single filter finds the suspicious groups.
    *
    * The leading digit is read off the INTEGER cents string
    * (`round(value*100)`), not via log10: the digit is scale-invariant,
    * and float log10 at exact powers of ten (100.00 -> 1.999...) would
    * make two engines disagree at the floor boundary. Zero / null
    * amounts carry no leading digit and are excluded. Missing digits are
    * densified (group x 1..9 cross join) so the chi-square includes their
    * full (0-exp)^2/exp mass. One scan + metadata-sized aggregations;
    * at 100 TB this is a single shuffle of (group, digit) counts.
    */
  def benfordDeviation(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val digit = substring(
      abs(round(col(valueCol) * 100)).cast("long").cast("string"), 1, 1)
      .cast("int")
    val counts = df
      .filter(col(valueCol).isNotNull &&
        abs(round(col(valueCol) * 100)).cast("long") > 0)
      .withColumn("digit", digit)
      .groupBy(col(groupCol), col("digit"))
      .agg(count(lit(1)).as("n_d"))
    // Densify to all nine digits so absent digits contribute their
    // (0 - exp)^2 / exp term instead of silently vanishing.
    val dense = df.select(col(groupCol)).distinct()
      .select(col(groupCol), explode(sequence(lit(1), lit(9))).as("digit"))
      .join(counts, Seq(groupCol, "digit"), "left")
      .withColumn("n_d", coalesce(col("n_d"), lit(0L)))
    val withShares = dense
      .withColumn("n", sum(col("n_d")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(groupCol)))
      .withColumn("obs_frac", col("n_d") / col("n"))
      .withColumn("exp_frac", log10(lit(1.0) + lit(1.0) / col("digit")))
    withShares
      .withColumn("chi2", round(sum(
          col("n") * (col("obs_frac") - col("exp_frac"))
            * (col("obs_frac") - col("exp_frac")) / col("exp_frac"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(groupCol)), 6))
      .select(col(groupCol), col("digit"), col("n_d"),
        round(col("obs_frac"), 6).as("obs_frac"),
        round(col("exp_frac"), 6).as("exp_frac"), col("chi2"))
  }

  /** Population-stability-index drift per group: decile edges are fitted
    * on the BASELINE slice, both slices are histogrammed against those
    * frozen edges, and PSI = sum (p_i - q_i) * ln(p_i / q_i) with
    * eps-clamped shares (the industry drift gate: <0.1 stable, >0.25
    * action). Emits one row per (group, bucket) with both shares and the
    * per-bucket contribution, plus the group PSI repeated per row.
    *
    * The edge table is one array row per group (metadata) and broadcast;
    * bucket assignment is a row-local fold over that array, so the whole
    * operator is one fact scan for the edges (baseline percentiles), one
    * for the histogram, and tiny aggregations — no per-row shuffle
    * beyond the (group, period, bucket) counts. Edges are rounded to 6
    * before comparison in BOTH engines so interpolation ulps cannot
    * flip a boundary value's bucket. `exact=false` swaps in
    * approx_percentile for the 100 TB path. Caches nothing: its two
    * consumers recompute the edge table, one more baseline scan, which
    * Meter at sf0.1 reads as fewer jobs and less task time than the cache.
    */
  def psiDrift(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      isBaseline: Column,
      buckets: Int = 10,
      eps: Double = 1e-4,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val probs = array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*)
    def pct(c: Column): Column =
      if (exact) percentile(c, probs) else approx_percentile(c, probs, lit(accuracy))
    val edges = df.filter(isBaseline)
      .groupBy(col(groupCol))
      .agg(transform(pct(col(valueCol)), e => round(e, 6)).as("__edges"))
    val bucketed = df
      .join(broadcast(edges), Seq(groupCol))
      .withColumn("bucket",
        aggregate(col("__edges"), lit(1),
          (acc, e) => acc + when(col(valueCol) > e, 1).otherwise(0)))
      .withColumn("__period", when(isBaseline, lit("base")).otherwise(lit("cur")))
      .groupBy(col(groupCol), col("bucket"))
      .agg(
        sum(when(col("__period") === "base", 1L).otherwise(0L)).as("n_base"),
        sum(when(col("__period") === "cur", 1L).otherwise(0L)).as("n_cur"))
    // Densify to every bucket so empty cells contribute their clamped
    // share instead of disappearing from the sum. Densify from the
    // EDGES table's groups, not df's: a group with no baseline rows
    // has no edges (the inner join above already dropped its facts),
    // and emitting 10 all-zero rows for it would (a) divide 0/0 —
    // engine-divergent null-vs-NaN — and (b) break the documented
    // identity psiBaseline + psiAgainstBaseline == psiDrift, whose
    // fit half can only densify from groups it has edges for.
    val dense = edges.select(col(groupCol))
      .select(col(groupCol), explode(sequence(lit(1), lit(buckets))).as("bucket"))
      .join(bucketed, Seq(groupCol, "bucket"), "left")
      .withColumn("n_base", coalesce(col("n_base"), lit(0L)))
      .withColumn("n_cur", coalesce(col("n_cur"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    dense
      .withColumn("p", greatest(col("n_base") / sum(col("n_base")).over(w), lit(eps)))
      .withColumn("q", greatest(col("n_cur") / sum(col("n_cur")).over(w), lit(eps)))
      .withColumn("contrib", (col("p") - col("q")) * log(col("p") / col("q")))
      .withColumn("psi", round(sum(col("contrib")).over(w), 6))
      .select(col(groupCol), col("bucket"), col("n_base"), col("n_cur"),
        round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
        round(col("contrib"), 6).as("contrib"), col("psi"))
  }

  /** The FIT half of [[psiDrift]]'s train/serve split: quantile edges +
    * per-bucket counts of the baseline slice, one metadata row per
    * group — persist it and score any number of later batches against
    * it with [[psiAgainstBaseline]] (the same frozen-stats discipline
    * as [[robustStats]]/[[scoreAgainstStats]]: the baseline never moves
    * because a drifting batch arrived, and the scorer is stream-static
    * joinable). Composition law: fit-on-baseline + score-on-current ==
    * [[psiDrift]] on the union, bit-for-bit — that identity IS the
    * contract query's oracle.
    */
  def psiBaseline(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      buckets: Int = 10,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val probs = array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*)
    def pct(c: Column): Column =
      if (exact) percentile(c, probs) else approx_percentile(c, probs, lit(accuracy))
    val edges = df.groupBy(col(groupCol))
      .agg(transform(pct(col(valueCol)), e => round(e, 6)).as("edges"))
    df.join(broadcast(edges), Seq(groupCol))
      .withColumn("bucket",
        aggregate(col("edges"), lit(1),
          (acc, e) => acc + when(col(valueCol) > e, 1).otherwise(0)))
      .groupBy(col(groupCol), col("edges"), col("bucket"))
      .agg(count(lit(1)).as("n_base"))
  }

  /** The SCORE half: bucket a batch against the FROZEN edges and
    * compute PSI vs the stored baseline counts — row-local beyond the
    * one broadcast of the (groups x buckets)-bounded baseline table.
    * Output schema matches [[psiDrift]] exactly (and equals it exactly
    * when fit+score covers the same split).
    */
  def psiAgainstBaseline(
      batch: DataFrame,
      groupCol: String,
      valueCol: String,
      baseline: DataFrame,
      buckets: Int = 10,
      eps: Double = 1e-4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = baseline.select(col(groupCol), col("edges")).distinct()
    val cur = batch
      .join(broadcast(edges), Seq(groupCol))
      .withColumn("bucket",
        aggregate(col("edges"), lit(1),
          (acc, e) => acc + when(col(valueCol) > e, 1).otherwise(0)))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n_cur"))
    val dense = edges.select(col(groupCol))
      .select(col(groupCol), explode(sequence(lit(1), lit(buckets))).as("bucket"))
      .join(baseline.select(col(groupCol), col("bucket"), col("n_base")),
        Seq(groupCol, "bucket"), "left")
      .join(cur, Seq(groupCol, "bucket"), "left")
      .withColumn("n_base", coalesce(col("n_base"), lit(0L)))
      .withColumn("n_cur", coalesce(col("n_cur"), lit(0L)))
    val w = Window.partitionBy(groupCol)
    dense
      .withColumn("p", greatest(col("n_base") / sum(col("n_base")).over(w), lit(eps)))
      .withColumn("q", greatest(col("n_cur") / sum(col("n_cur")).over(w), lit(eps)))
      .withColumn("contrib", (col("p") - col("q")) * log(col("p") / col("q")))
      .withColumn("psi", round(sum(col("contrib")).over(w), 6))
      .select(col(groupCol), col("bucket"), col("n_base"), col("n_cur"),
        round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
        round(col("contrib"), 6).as("contrib"), col("psi"))
  }

  /** CUSUM change-point scan per group (the max-type CUSUM test
    * statistic, Page 1954 / Csorgo-Horvath): the series is the DAILY
    * mean of `valueCol`, and for every candidate split k the statistic
    * is |S_k - (k/n) S_n| — the distance of the prefix sum from the
    * no-change diagonal. Emits the argmax day per group (the last day of
    * the "before" regime), the statistic, and the before/after means.
    *
    * The daily roll-up bounds the series at one row per (group, day) —
    * metadata even at 100 TB — so the scan itself is window arithmetic
    * over a tiny table; the only full-fact work is the one daily
    * aggregation scan. Daily means land on the 6dp grid first
    * ([[dailyMean]]) and the prefix/total sums run as exact decimals,
    * so two engines agree bit-for-bit regardless of fold order. Ties
    * break to the earliest day.
    */
  def changePointScan(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyMean(df, groupCol, tsCol, valueCol)
    val wOrd = Window.partitionBy(groupCol).orderBy("day")
    val wAll = Window.partitionBy(groupCol)
    // Prefix AND whole-partition sums staged as exact decimal: the
    // running sum's order is pinned by the window, but s_n is an
    // UNORDERED partition fold — decimal makes both order-free, and
    // the one cast to double hands the stat formula plain scalar IEEE
    // arithmetic.
    val md = col("m").cast("decimal(18,6)")
    val scanned = daily
      .withColumn("k", row_number().over(wOrd))
      .withColumn("s_k", sum(md).over(wOrd).cast("double"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s_n", sum(md).over(wAll).cast("double"))
      .filter(col("k") < col("n"))
      .withColumn("stat",
        round(abs(col("s_k") - col("k") * col("s_n") / col("n")), 6))
    scanned
      .withColumn("rk", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("stat").desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col(groupCol), col("day").as("change_day"), col("stat"),
        round(col("s_k") / col("k"), 6).as("mean_before"),
        round((col("s_n") - col("s_k")) / (col("n") - col("k")), 6).as("mean_after"))
  }

  /** EWMA control chart per group over the daily-mean series
    * (Roberts 1959): z_1 = m_1, z_k = alpha*m_k + (1-alpha)*z_{k-1},
    * and day k alarms when |m_k - z_{k-1}| exceeds
    * L * sigma * sqrt(alpha / (2 - alpha)) — the small-persistent-shift
    * detector that single-point z-scores miss. Emits one row per
    * (group, day) with the smoothed baseline, the innovation against
    * yesterday's baseline, and the alarm flag.
    *
    * The recursion is inherently sequential, so it runs over the
    * DAILY roll-up only: one full-fact aggregation scan, then a
    * per-group ordered fold over a metadata-sized series (a SQL
    * aggregate HOF over the collected (day, m) array — bounded by days,
    * not rows, so the collect_list is safe at any fact scale). Each
    * recursion step is rounded to 6 so an external replay (recursive
    * CTE) reproduces the exact doubles.
    */
  def ewmaChart(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      alpha: Double = 0.3,
      l: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    val daily = dailyMean(df, groupCol, tsCol, valueCol)
    // sigma from exact decimal moments (m is on the 6dp grid), not
    // stddev_samp over doubles — the group fold is unordered, so a
    // float stddev is partition-order-dependent at the last ulp.
    val md = col("m").cast("decimal(18,6)")
    val series = daily.groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col("day"), col("m")))).as("s"),
        count(col("m")).as("__nm"),
        sum(md).cast("double").as("__sm"),
        sum(md * md).cast("double").as("__smm"))
      .withColumn("sigma",
        stdFromMoments(col("__nm"), col("__sm"), col("__smm")))
    // Running EWMA as an array fold: acc grows one smoothed value per
    // day; z_1 seeds at m_1. O(days^2) array copies — days is metadata.
    val ewmas = aggregate(col("s"),
      array().cast("array<double>"),
      (acc, x) => concat(acc, array(
        when(size(acc) === 0, x.getField("m"))
          .otherwise(round(lit(alpha) * x.getField("m")
            + lit(1.0 - alpha) * element_at(acc, size(acc)), 6)))))
    val wOrd = Window.partitionBy(groupCol).orderBy("day")
    series
      .withColumn("z", ewmas)
      .select(col(groupCol), col("sigma"),
        posexplode(arrays_zip(col("s"), col("z"))).as(Seq("pos", "zip")))
      .select(col(groupCol), col("sigma"),
        col("zip.s.day").as("day"), col("zip.s.m").as("m"),
        col("zip.z").as("ewma"))
      .withColumn("z_prev", lag(col("ewma"), 1).over(wOrd))
      .withColumn("innovation",
        when(col("z_prev").isNotNull, round(col("m") - col("z_prev"), 6)))
      .withColumn("ucl",
        round(lit(l) * col("sigma") * sqrt(lit(alpha / (2.0 - alpha))), 6))
      .withColumn("is_alarm",
        coalesce(abs(col("innovation")) > col("ucl"), lit(false)))
      .select(col(groupCol), col("day"), col("m"), col("ewma"),
        col("innovation"), col("ucl"), col("is_alarm"))
  }

  /** Holt linear-trend smoothing per group over the daily-mean series
    * (Holt 1957 — the double-exponential upgrade of [[ewmaChart]] for
    * drifting baselines): level l_k = alpha*m_k + (1-alpha)*(l_{k-1} +
    * b_{k-1}), trend b_k = beta*(l_k - l_{k-1}) + (1-beta)*b_{k-1},
    * seeded l_1 = m_1, b_1 = m_2 - m_1 (0 for singleton series). Emits
    * per day the one-step-ahead forecast f_k = l_{k-1} + b_{k-1}, the
    * forecast error, and an alarm when |error| > L * sigma_e (sigma_e =
    * the group's sample stddev of all errors — trend-adjusted, so a
    * steady ramp that would page an EWMA chart forever stays quiet and
    * only genuine departures alarm).
    *
    * Same execution shape as [[ewmaChart]]: the recursion folds over
    * the collected daily series (bounded by DAYS, not facts; the one
    * full-fact pass is the daily aggregation), with every l/b rounded
    * to 6dp per step so a recursive-CTE replay reproduces the exact
    * doubles.
    */
  def holtForecast(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      alpha: Double = 0.3,
      beta: Double = 0.1,
      l: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta in [0,1], got $beta")
    val daily = dailyMean(df, groupCol, tsCol, valueCol)
    val series = daily.groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col("day"), col("m")))).as("s"))
    // Fold state: one struct(l, b) per day. Seeds: l_1 = m_1, b_1 =
    // m_2 - m_1 (the standard two-point trend seed; 0 if no second
    // day). The seed needs m_2, so the fold carries the whole series
    // via element_at on the growing index — O(days^2), metadata-sized.
    val st = aggregate(col("s"),
      array().cast("array<struct<l:double,b:double>>"),
      (acc, x) => {
        val k = size(acc) + 1
        val prev = element_at(acc, size(acc))
        val lNew = round(lit(alpha) * x.getField("m")
          + lit(1.0 - alpha) * (prev.getField("l") + prev.getField("b")), 6)
        concat(acc, array(
          when(k === 1, struct(
            x.getField("m").as("l"),
            // get() is 0-indexed and null-safe (vs ANSI element_at,
            // which throws past the end on single-day series).
            coalesce(get(col("s"), lit(1)).getField("m") - x.getField("m"),
              lit(0.0)).as("b")))
            .otherwise(struct(
              lNew.as("l"),
              round(lit(beta) * (lNew - prev.getField("l"))
                + lit(1.0 - beta) * prev.getField("b"), 6).as("b")))))
      })
    val wOrd = Window.partitionBy(groupCol).orderBy("day")
    val wAll = Window.partitionBy(groupCol)
    series
      .withColumn("st", st)
      .select(col(groupCol),
        posexplode(arrays_zip(col("s"), col("st"))).as(Seq("pos", "zip")))
      .select(col(groupCol),
        col("zip.s.day").as("day"), col("zip.s.m").as("m"),
        col("zip.st.l").as("level"), col("zip.st.b").as("trend"))
      .withColumn("forecast",
        round(lag(col("level"), 1).over(wOrd) + lag(col("trend"), 1).over(wOrd), 6))
      .withColumn("error",
        when(col("forecast").isNotNull, round(col("m") - col("forecast"), 6)))
      // sigma_e over an UNORDERED group window: exact decimal moments,
      // never float stddev (order-dependent last ulp — the class that
      // hash-failed q_seasonal_decompose in r13).
      .withColumn("__ne", count(col("error")).over(wAll))
      .withColumn("__se",
        sum(col("error").cast("decimal(18,6)")).over(wAll).cast("double"))
      .withColumn("__sse",
        sum(col("error").cast("decimal(18,6)")
          * col("error").cast("decimal(18,6)")).over(wAll).cast("double"))
      .withColumn("sigma_e",
        stdFromMoments(col("__ne"), col("__se"), col("__sse")))
      .withColumn("is_alarm",
        coalesce(abs(col("error")) > lit(l) * col("sigma_e"), lit(false)))
      .select(col(groupCol), col("day"), col("m"), col("level"), col("trend"),
        col("forecast"), col("error"), col("sigma_e"), col("is_alarm"))
  }

  /** Rolling-origin forecast backtest: per group, the mean absolute
    * one-step error of the [[holtForecast]] chart vs the naive
    * "tomorrow equals today" forecast, plus the skill score
    * 1 - MAE_holt/MAE_naive (positive = the model earns its keep; the
    * first question to ask BEFORE alerting on a forecast's errors).
    * Evaluated over the days where both forecasts exist (day 2+), which
    * makes the comparison honest — same test set, same grain.
    *
    * The error series is the holt fold's own output (6dp-rounded), and
    * the MAEs aggregate |error| through exact decimal(18,6) sums — no
    * float-summation-order drift between engines.
    */
  def forecastBacktest(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      alpha: Double = 0.3,
      beta: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(groupCol).orderBy("day")
    holtForecast(df, groupCol, tsCol, valueCol, alpha, beta)
      .withColumn("__naive_err",
        when(lag(col("m"), 1).over(wOrd).isNotNull,
          round(col("m") - lag(col("m"), 1).over(wOrd), 6)))
      .filter(col("error").isNotNull && col("__naive_err").isNotNull)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_days"),
        // decimal sum -> double FIRST, then a double division: decimal
        // division scale rules are engine-specific, double math is not.
        (sum(abs(col("error")).cast("decimal(18,6)")).cast("double")
          / count(lit(1))).as("__mh"),
        (sum(abs(col("__naive_err")).cast("decimal(18,6)")).cast("double")
          / count(lit(1))).as("__mn"))
      .withColumn("mae_holt", round(col("__mh"), 6))
      .withColumn("mae_naive", round(col("__mn"), 6))
      .withColumn("skill",
        when(col("__mn") > 0, round(lit(1.0) - col("__mh") / col("__mn"), 6)))
      .select(col(groupCol), col("n_days"), col("mae_holt"),
        col("mae_naive"), col("skill"))
  }

  /** Holt-Winters additive triple exponential smoothing over the daily
    * series — level + trend + a `period`-day seasonal cycle, completing
    * the forecasting ladder (EWMA → Holt → Holt-Winters): a weekly
    * rhythm that EWMA pages on and Holt mistakes for trend becomes
    * seasonal state here, so the alarm fires only on genuinely novel
    * deviations.
    *
    * Recurrence (all states 6dp-rounded per step — the engine-portable
    * fixed-point discipline; s_prev means the seasonal fitted one full
    * period ago, 0.0 during the first cycle):
    *   l_k = α(m_k − s_{k−p}) + (1−α)(l_{k−1} + b_{k−1})
    *   b_k = β(l_k − l_{k−1}) + (1−β) b_{k−1}
    *   s_k = γ(m_k − l_k) + (1−γ) s_{k−p}
    *   forecast_k = l_{k−1} + b_{k−1} + s_{k−p}
    * Seeds mirror [[holtForecast]]: l_1 = m_1, b_1 = m_2 − m_1 (0 for a
    * one-day group), s_1 = 0. The DuckDB replay runs the identical
    * recursion, carrying the last `period` seasonals as a rolling list
    * in the recursive CTE state (standard recursive CTEs see only the
    * previous step's rows, so the p-lag lookup must travel with them).
    *
    * Same scale shape as holt: per-group state is the day count
    * (metadata for any daily series), one groupBy + one ordered fold +
    * window passes.
    */
  def holtWintersForecast(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      period: Int = 7,
      alpha: Double = 0.3,
      beta: Double = 0.1,
      gamma: Double = 0.3,
      l: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(period >= 2, s"seasonal period must be >= 2, got $period")
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta in [0,1], got $beta")
    require(gamma >= 0 && gamma <= 1, s"gamma in [0,1], got $gamma")
    val daily = dailyMean(df, groupCol, tsCol, valueCol)
    val series = daily.groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col("day"), col("m")))).as("s"))
    val st = aggregate(col("s"),
      array().cast("array<struct<l:double,b:double,sv:double>>"),
      (acc, x) => {
        val k = size(acc) + 1
        val prev = element_at(acc, size(acc))
        val sPrev = when(size(acc) >= period,
          element_at(acc, size(acc) - (period - 1)).getField("sv"))
          .otherwise(lit(0.0))
        val lNew = round(lit(alpha) * (x.getField("m") - sPrev)
          + lit(1.0 - alpha) * (prev.getField("l") + prev.getField("b")), 6)
        val bNew = round(lit(beta) * (lNew - prev.getField("l"))
          + lit(1.0 - beta) * prev.getField("b"), 6)
        val sNew = round(lit(gamma) * (x.getField("m") - lNew)
          + lit(1.0 - gamma) * sPrev, 6)
        concat(acc, array(
          when(k === 1, struct(
            x.getField("m").as("l"),
            coalesce(get(col("s"), lit(1)).getField("m") - x.getField("m"),
              lit(0.0)).as("b"),
            lit(0.0).as("sv")))
            .otherwise(struct(lNew.as("l"), bNew.as("b"), sNew.as("sv")))))
      })
    val wOrd = Window.partitionBy(groupCol).orderBy("day")
    val wAll = Window.partitionBy(groupCol)
    series
      .withColumn("st", st)
      .select(col(groupCol),
        posexplode(arrays_zip(col("s"), col("st"))).as(Seq("pos", "zip")))
      .select(col(groupCol),
        col("zip.s.day").as("day"), col("zip.s.m").as("m"),
        col("zip.st.l").as("level"), col("zip.st.b").as("trend"),
        col("zip.st.sv").as("seasonal"))
      .withColumn("forecast",
        round(lag(col("level"), 1).over(wOrd) + lag(col("trend"), 1).over(wOrd)
          + coalesce(lag(col("seasonal"), period).over(wOrd), lit(0.0)), 6))
      .withColumn("error",
        when(col("forecast").isNotNull, round(col("m") - col("forecast"), 6)))
      // Same decimal-moment sigma_e staging as [[holtForecast]].
      .withColumn("__ne", count(col("error")).over(wAll))
      .withColumn("__se",
        sum(col("error").cast("decimal(18,6)")).over(wAll).cast("double"))
      .withColumn("__sse",
        sum(col("error").cast("decimal(18,6)")
          * col("error").cast("decimal(18,6)")).over(wAll).cast("double"))
      .withColumn("sigma_e",
        stdFromMoments(col("__ne"), col("__se"), col("__sse")))
      .withColumn("is_alarm",
        coalesce(abs(col("error")) > lit(l) * col("sigma_e"), lit(false)))
      .select(col(groupCol), col("day"), col("m"), col("level"), col("trend"),
        col("seasonal"), col("forecast"), col("error"), col("sigma_e"),
        col("is_alarm"))
  }

  /** Forecast model selection: per group, the one-step MAE of all four
    * charts — naive lag-1, [[ewmaChart]], [[holtForecast]],
    * [[holtWintersForecast]] — over the days where every model has a
    * forecast (day 2+ for all of them), plus the winner under a fixed
    * priority tie-break (naive > ewma > holt > hw: prefer the simpler
    * model when rounded MAEs tie — Occam as a sort order). This is the
    * table that decides WHICH forecaster's alarms a group should page
    * on; composing it from the existing operators means its scale story
    * is theirs (three daily-roll-up folds + two metadata joins).
    * Winner comparisons run on the 6dp-ROUNDED MAEs so the choice is
    * engine-portable.
    */
  def forecastModelSelect(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      period: Int = 7,
      alpha: Double = 0.3,
      beta: Double = 0.1,
      gamma: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(groupCol).orderBy("day")
    val ew = ewmaChart(df, groupCol, tsCol, valueCol, alpha)
      .withColumn("e_naive",
        when(lag(col("m"), 1).over(wOrd).isNotNull,
          round(col("m") - lag(col("m"), 1).over(wOrd), 6)))
      .select(col(groupCol), col("day"), col("e_naive"),
        col("innovation").as("e_ewma"))
    val h = holtForecast(df, groupCol, tsCol, valueCol, alpha, beta)
      .select(col(groupCol), col("day"), col("error").as("e_holt"))
    val hw = holtWintersForecast(df, groupCol, tsCol, valueCol,
        period, alpha, beta, gamma)
      .select(col(groupCol), col("day"), col("error").as("e_hw"))
    val j = ew.join(h, Seq(groupCol, "day")).join(hw, Seq(groupCol, "day"))
      .filter(col("e_naive").isNotNull && col("e_ewma").isNotNull &&
        col("e_holt").isNotNull && col("e_hw").isNotNull)
    def mae(c: String) = round(
      sum(abs(col(c)).cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
    j.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_days"),
        mae("e_naive").as("mae_naive"), mae("e_ewma").as("mae_ewma"),
        mae("e_holt").as("mae_holt"), mae("e_hw").as("mae_hw"))
      .withColumn("best",
        when(col("mae_naive") <= col("mae_ewma")
          && col("mae_naive") <= col("mae_holt")
          && col("mae_naive") <= col("mae_hw"), lit("naive"))
          .when(col("mae_ewma") <= col("mae_holt")
            && col("mae_ewma") <= col("mae_hw"), lit("ewma"))
          .when(col("mae_holt") <= col("mae_hw"), lit("holt"))
          .otherwise(lit("hw")))
  }

  /** Rolling Pearson correlation between two event types' daily
    * volumes: for every day with a FULL trailing `windowDays`-row
    * window, r over the (count_a, count_b) pairs in it — "are
    * purchases still tracking views" as a time series, the leading
    * indicator check. Free portability: daily counts are integers, so
    * every window sum (Σx, Σy, Σxy, Σx², Σy², n) is exact in both
    * engines with no decimal staging; only the final r arithmetic is
    * float, in one fixed order. Partial head windows emit null r
    * (n < windowDays) rather than a noisy estimate. The unpartitioned
    * day-ordered window runs over the daily roll-up — bounded rows at
    * any corpus scale.
    */
  def rollingCorrelation(
      df: DataFrame,
      tsCol: String,
      typeCol: String,
      typeA: String,
      typeB: String,
      windowDays: Int = 14): DataFrame =
    rollingCorrelationFromDaily(
      df.groupBy(to_date(col(tsCol)).as("day"))
        .agg(count(when(col(typeCol) === typeA, 1)).as("x"),
          count(when(col(typeCol) === typeB, 1)).as("y")),
      windowDays)

  /** [[rollingCorrelation]] from an already-built (day, x, y) daily
    * count table — the incremental entry: daily counts are mergeable
    * (IncrementalAgg/CensusStore fabric), so a streaming census can
    * accrete per batch and this bounded-table window recomputes the
    * corr series without ever rescanning events (streamed == batch is
    * golden-pinned in StreamingFeaturesSpec).
    */
  def rollingCorrelationFromDaily(
      daily: DataFrame,
      windowDays: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowDays >= 2, s"window must be >= 2 days, got $windowDays")
    val w = Window.orderBy("day").rowsBetween(-(windowDays - 1), 0)
    val s = daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .select(col("day"), col("x"), col("y"), col("n"),
        (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")).as("num"),
        (col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")).as("vx"),
        (col("n").cast("double") * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double")).as("vy"))
    s.select(col("day"), col("x"), col("y"),
      when(col("n") === windowDays && col("vx") > 0 && col("vy") > 0,
        round(col("num") / sqrt(col("vx") * col("vy")), 6)).as("r"))
  }

  /** Spearman rank correlation per group (Spearman 1904): Pearson over
    * AVERAGE ranks — the monotone-association measure that ignores the
    * marginal distributions Pearson is hostage to (one heavy-tailed
    * outlier day wrecks r; it moves rho by one rank). Completes the
    * correlation battery (Pearson matrix `q_corr_matrix`, rolling
    * Pearson `q_corr_rolling`).
    *
    * Exactness: a tie block of size t spanning min-rank r gives every
    * member rank r + (t−1)/2 — values on the 0.5 grid, so rank sums,
    * squares (0.25 grid) and cross-products fold as EXACT decimals;
    * the Pearson assembly is then the house fixed scalar chain. Rows
    * with a null on either side drop (ranks are over complete pairs).
    * One rank window per side + one aggregation.
    */
  def spearmanCorrelation(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    def avgRank(c: String): Column =
      rank().over(Window.partitionBy(groupCol).orderBy(col(c))) +
        (count(lit(1)).over(Window.partitionBy(col(groupCol), col(c))) - 1)
          .cast("double") / 2.0
    val ranked = base
      .withColumn("__rx", avgRank(xCol).cast("decimal(12,1)"))
      .withColumn("__ry", avgRank(yCol).cast("decimal(12,1)"))
    val s = ranked.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__rx")).cast("double").as("sx"),
        sum(col("__ry")).cast("double").as("sy"),
        sum(col("__rx") * col("__ry")).cast("double").as("sxy"),
        sum(col("__rx") * col("__rx")).cast("double").as("sxx"),
        sum(col("__ry") * col("__ry")).cast("double").as("syy"))
      .select(col(groupCol), col("n"),
        (col("n").cast("double") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n").cast("double") * col("sxx") - col("sx") * col("sx")).as("vx"),
        (col("n").cast("double") * col("syy") - col("sy") * col("sy")).as("vy"))
    s.select(col(groupCol), col("n"),
      when(col("vx") > 0 && col("vy") > 0,
        round(col("num") / sqrt(col("vx") * col("vy")), 6)).as("rho"))
  }

  /** Kendall tau-b rank correlation per group (Kendall 1938): the
    * concordance view of monotone association — tau-b = (C − D) /
    * √((n0−n1)(n0−n2)) with n0 = n(n−1)/2 and n1/n2 the tied-pair
    * counts per side. C − D is ONE integer sum of sign products over
    * the pair table (the [[mannKendall]] statistic generalized to two
    * variables — Mann-Kendall IS Kendall tau against time), the tie
    * counts are integer tie-group sums, and the final assembly is
    * three fixed IEEE ops. Alongside [[spearmanCorrelation]] the
    * battery reads: Spearman for rank-linear strength, tau for
    * pairwise-agreement probability (tau ≈ P(concordant) − P(discordant)).
    *
    * BOUNDED-INPUT CONTRACT: `df` must already be a metadata-sized
    * aggregate (a daily roll-up, a per-entity summary — hundreds to
    * thousands of rows per group), like the [[mannKendall]] /
    * [[theilSenFit]] callers feed. The pair table is O(n²) PER GROUP by
    * construction; pointing this at a raw fact table is a cartesian
    * blow-up, not a slow query. Roll up first (see [[mannKendall]]'s
    * daily-grain staging), then correlate.
    *
    * The row id that breaks pairs is an arbitrary total order (sign
    * products are symmetric, so WHICH order is irrelevant — only that
    * each unordered pair appears once).
    */
  def kendallTau(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .withColumn("__rid", row_number().over(
        Window.partitionBy(groupCol).orderBy(col(xCol), col(yCol))))
      .select(col(groupCol), col("__rid"),
        col(xCol).as("__x"), col(yCol).as("__y"))
      .localCheckpoint(true)
    val a = base.select(col(groupCol), col("__rid").as("ra"),
      col("__x").as("xa"), col("__y").as("ya"))
    val b = base.select(col(groupCol), col("__rid").as("rb"),
      col("__x").as("xb"), col("__y").as("yb"))
    val sTab = a.join(b, Seq(groupCol)).filter(col("ra") < col("rb"))
      .groupBy(col(groupCol))
      .agg(sum(signum(col("xb") - col("xa")).cast("long")
        * signum(col("yb") - col("ya")).cast("long")).as("s"))
    def tiePairs(c: String, out: String): DataFrame =
      base.groupBy(col(groupCol), col(c)).agg(count(lit(1)).as("t"))
        .groupBy(col(groupCol))
        // Integer DIV end to end: t(t-1) stays a long product and the
        // halving never visits double space (Spark `/` is fractional —
        // exact only below 2^53, a silent precision cliff for a tie
        // group in the millions).
        .agg(sum(expr("(t * (t - 1)) div 2")).as(out),
          sum(col("t")).as(s"__n_$out"))
    val tx = tiePairs("__x", "n1")
    val ty = tiePairs("__y", "n2").drop("__n_n2")
    tx.join(ty, Seq(groupCol))
      .join(sTab, Seq(groupCol), "left")
      .select(col(groupCol), col("__n_n1").as("n"),
        coalesce(col("s"), lit(0L)).as("s_stat"),
        col("n1"), col("n2"),
        expr("(__n_n1 * (__n_n1 - 1)) div 2").as("__n0"))
      .select(col(groupCol), col("n"), col("s_stat"), col("n1"), col("n2"),
        when((col("__n0") - col("n1")) > 0 && (col("__n0") - col("n2")) > 0,
          round(col("s_stat").cast("double")
            / sqrt(((col("__n0") - col("n1")) * (col("__n0") - col("n2")))
              .cast("double")), 6)).as("tau"))
  }

  /** Chi-square test of independence between two categorical columns,
    * with Cramér's V effect size — "does the event mix depend on the
    * weekday" answered properly: the full r×c grid including
    * zero-observed cells (a missing cell is evidence, not absence),
    * expected counts from the margins, per-cell contributions
    * (o−e)²/e. Engine-portable: contributions round to 12dp decimals
    * and sum EXACTLY across the bounded cell table (never a float sum
    * whose order matters), chi2/dof/V repeat on every cell row via
    * windows over that metadata-sized grid. Scale: one counting
    * shuffle on (a, b); everything after runs on ≤ |A|·|B| rows.
    */
  def chiSquareIndependence(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Eagerly checkpointed: the cell table is metadata-sized (≤ |A|·|B|
    // rows) but referenced by the grid cross, the margins, and the
    // totals — without the barrier each reference re-aggregates the
    // full input (plan-audited at ~12 raw scans).
    val cells = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("o"))
      .localCheckpoint(true)
    val grid = cells.select(col(aCol)).distinct()
      .crossJoin(cells.select(col(bCol)).distinct())
      .join(cells, Seq(aCol, bCol), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val wa = Window.partitionBy(aCol)
    val wb = Window.partitionBy(bCol)
    val g = grid
      .withColumn("rt", sum(col("o")).over(wa))
      .withColumn("ct", sum(col("o")).over(wb))
    // Global stats as a broadcast one-row frame (the grid is
    // metadata-sized; a window-DISTINCT would not replay portably).
    val tot = g.agg(
      sum(col("o")).as("nn"),
      countDistinct(col(aCol)).as("na"),
      countDistinct(col(bCol)).as("nb"))
    val cellStats = g.crossJoin(broadcast(tot))
      .withColumn("e",
        (col("rt").cast("double") * col("ct").cast("double"))
          / col("nn").cast("double"))
      .withColumn("contrib",
        round((col("o").cast("double") - col("e"))
          * (col("o").cast("double") - col("e")) / col("e"), 12))
    val chi2 = cellStats.agg(
      sum(col("contrib").cast("decimal(30,12)")).cast("double").as("chi2"))
    cellStats.crossJoin(broadcast(chi2))
      .withColumn("dof", ((col("na") - 1) * (col("nb") - 1)).cast("long"))
      .withColumn("kmin",
        least(col("na") - 1, col("nb") - 1).cast("double"))
      .select(col(aCol), col(bCol), col("o"), round(col("e"), 6).as("e"),
        round(col("contrib"), 6).as("contrib"),
        round(col("chi2"), 6).as("chi2"), col("dof"),
        when(col("kmin") > 0 && col("nn") > 0,
          round(sqrt(col("chi2") / (col("nn").cast("double") * col("kmin"))), 6))
          .as("cramers_v"))
  }

  /** Per-group OLS trend fit over the daily-mean series: slope,
    * intercept and r² of m ~ dayIndex (1-based rank of the day) — the
    * "is this metric drifting and how fast" scalar behind every
    * capacity plan, computed in closed form from five sufficient
    * statistics. Engine-portable by construction: the day index is an
    * integer, the daily mean a 6dp decimal, so Σx, Σx², Σy, Σxy, Σy²
    * are all EXACT decimal/integer sums (order-independent), and the
    * slope/intercept/r² arithmetic runs on their double casts in one
    * fixed parenthesization. Degenerate guards: n = 1 → null slope
    * (den = 0), constant series → null r² (deny = 0).
    *
    * 100 TB shape: one daily roll-up shuffle, one rank window per
    * group, one five-counter aggregation — sufficient statistics are
    * the map-side-combine dream; nothing driver-side.
    */
  def trendFit(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyMean(df, groupCol, tsCol, valueCol)
    val idx = daily.withColumn("i",
      row_number().over(Window.partitionBy(groupCol).orderBy("day")).cast("long"))
    val s = idx.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("i")).as("sx"),
        sum(col("i") * col("i")).as("sxx"),
        sum(col("m").cast("decimal(18,6)")).cast("double").as("sy"),
        sum(col("i").cast("decimal(9,0)") * col("m").cast("decimal(18,6)"))
          .cast("double").as("sxy"),
        sum(col("m").cast("decimal(18,6)") * col("m").cast("decimal(18,6)"))
          .cast("double").as("syy"))
      .select(col(groupCol), col("n"),
        col("n").cast("double").as("nd"), col("sx").cast("double").as("sxd"),
        col("sxx").cast("double").as("sxxd"),
        col("sy"), col("sxy"), col("syy"))
      .select(col(groupCol), col("n"),
        (col("nd") * col("sxy") - col("sxd") * col("sy")).as("num"),
        (col("nd") * col("sxxd") - col("sxd") * col("sxd")).as("den"),
        (col("nd") * col("syy") - col("sy") * col("sy")).as("deny"),
        col("nd"), col("sxd"), col("sy"))
    s.select(col(groupCol), col("n").as("n_days"),
      when(col("den") > 0, round(col("num") / col("den"), 6)).as("slope"),
      when(col("den") > 0,
        round((col("sy") - (col("num") / col("den")) * col("sxd")) / col("nd"), 6))
        .as("intercept"),
      when(col("den") > 0 && col("deny") > 0,
        round((col("num") * col("num")) / (col("den") * col("deny")), 6)).as("r2"))
  }

  /** Trimmed + winsorized means per group (Tukey's robust location
    * estimates): rank the values, drop (trimmed) or clamp (winsorized)
    * the k = ⌊α·n⌋ extremes on each side. The location summary that
    * survives fat tails where the plain mean follows one wild sensor —
    * and the exact, engine-portable alternative to an approximate
    * quantile clip.
    *
    * Portability: ranks are row_number over the value order (ties
    * anywhere — trimming by rank keeps a well-defined multiset because
    * tied values are interchangeable); kept/clamped values ride the
    * 6dp grid and fold as exact decimals; the winsorized sum needs NO
    * self-join — it is trimmed_sum + k·lo + k·hi where lo/hi are the
    * conditional min/max at the trim boundaries, all decimal-exact.
    * k uses floor(double α·n) with the α literal staged identically in
    * the oracle (CAST AS DOUBLE — DuckDB would otherwise compute α·n
    * in exact decimal and floor DIFFERENTLY at e.g. 0.3·10).
    *
    * Shape: one window rank + one aggregation over the fact rows;
    * map-side combine applies to every aggregate.
    */
  def trimmedMeans(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      alpha: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha >= 0 && alpha < 0.5, s"alpha in [0, 0.5), got $alpha")
    val wOrd = Window.partitionBy(groupCol).orderBy(col(valueCol))
    val wAll = Window.partitionBy(groupCol)
    val ranked = df
      .filter(col(valueCol).isNotNull)
      .withColumn("__v", round(col(valueCol), 6))
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__k", floor(lit(alpha) * col("__n")))
    val dec = "decimal(18,6)"
    ranked.groupBy(col(groupCol))
      .agg(
        max(col("__n")).as("n"),
        max(col("__k")).as("k"),
        sum(when(col("__rn") > col("__k") && col("__rn") <= col("__n") - col("__k"),
          col("__v").cast(dec))).as("__tsum"),
        min(when(col("__rn") > col("__k"), col("__v"))).as("__lo"),
        max(when(col("__rn") <= col("__n") - col("__k"), col("__v"))).as("__hi"))
      .select(col(groupCol), col("n"), col("k"),
        round(col("__tsum").cast("double") / (col("n") - lit(2) * col("k")), 6)
          .as("trimmed_mean"),
        round((col("__tsum")
          + col("k") * col("__lo").cast(dec)
          + col("k") * col("__hi").cast(dec)).cast("double") / col("n"), 6)
          .as("winsorized_mean"))
  }

  /** Theil-Sen robust trend fit (Theil 1950; Sen 1968) over the daily
    * roll-up: slope = the LOWER MEDIAN of all pairwise slopes
    * (m_b − m_a)/(i_b − i_a), intercept = the lower median of the
    * residuals m_i − slope·i — the estimator with a 29.3% breakdown
    * point, where [[trendFit]]'s OLS is dragged arbitrarily far by a
    * single wild day. The complement, not a replacement: OLS gives r²
    * and sits in closed form; this survives corrupted telemetry.
    *
    * Exact order statistics at integer ranks (the `q_funnel_latency`
    * convention — rank ⌊(n+1)/2⌋ ascending, no interpolation
    * semantics to reconcile between engines). Every pair slope is ONE
    * IEEE division of a 6dp-grid difference by an integer gap —
    * bit-portable without staging; the median SELECTS a value rather
    * than summing, so no decimal staging is needed anywhere. The
    * day index is the same row_number i as [[trendFit]] (comparable
    * slopes on gap-free fixtures; both are per-observed-day trends).
    *
    * Scale shape: the pair explosion is per-group over the DAILY table
    * — n_days² pairs per group, metadata-sized for any bounded window
    * (a year = ~66k pairs/group), never over facts; the daily index is
    * eagerly checkpointed once (it feeds both join sides and the
    * residual pass). Groups with one day emit null slope/intercept.
    */
  def theilSenFit(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyMean(df, groupCol, tsCol, valueCol)
    val idx = daily.withColumn("i",
      row_number().over(Window.partitionBy(groupCol).orderBy("day")).cast("long"))
      .select(col(groupCol), col("i"), col("m"))
      .localCheckpoint(true)
    val counts = idx.groupBy(col(groupCol)).agg(count(lit(1)).as("n_days"))
    val a = idx.select(col(groupCol), col("i").as("ia"), col("m").as("ma"))
    val b = idx.select(col(groupCol), col("i").as("ib"), col("m").as("mb"))
    val pairs = a.join(b, Seq(groupCol)).filter(col("ia") < col("ib"))
      .select(col(groupCol),
        ((col("mb") - col("ma")) / (col("ib") - col("ia")).cast("double"))
          .as("s"))
    val wG = Window.partitionBy(groupCol)
    // Checkpointed: the per-group slope row feeds both the residual
    // join and the final assembly — without the barrier the whole pair
    // explosion + sort window runs once per consumer.
    val slope = pairs
      .withColumn("__rn", row_number().over(wG.orderBy("s")))
      .withColumn("__np", count(lit(1)).over(wG))
      .filter(col("__rn") ===
        ((col("__np") + 1L).cast("double") / 2.0).cast("long"))
      .select(col(groupCol), round(col("s"), 6).as("slope"))
      .localCheckpoint(true)
    val resid = idx.join(broadcast(slope), Seq(groupCol))
      .select(col(groupCol),
        (col("m") - col("slope") * col("i").cast("double")).as("r"))
    val intercept = resid
      .withColumn("__rn", row_number().over(wG.orderBy("r")))
      .withColumn("__nr", count(lit(1)).over(wG))
      .filter(col("__rn") ===
        ((col("__nr") + 1L).cast("double") / 2.0).cast("long"))
      .select(col(groupCol), round(col("r"), 6).as("intercept"))
    counts
      .join(slope, Seq(groupCol), "left")
      .join(intercept, Seq(groupCol), "left")
      .select(col(groupCol), col("n_days"), col("slope"), col("intercept"))
  }

  /** Day-of-week quantile envelope: per (group, dow), the exact
    * p10 / lower-median / p90 of the daily means — the seasonal band a
    * dashboard draws behind today's point, and the frozen-stats
    * companion to [[seasonalDecompose]] (decompose explains the
    * rhythm; the envelope judges a new day against its weekday's own
    * history). Order statistics at integer ranks (the funnel-latency
    * convention — ceil(q·n) as ⌊(q·10·n + 9)/10⌋ in integer math, no
    * interpolation to reconcile), each selected as max-of-the-first-k
    * in ONE aggregation — no per-quantile join.
    */
  def dowEnvelope(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyMean(df, groupCol, tsCol, valueCol)
      .withColumn("dow", dayofweek(col("day")))
    val wOrd = Window.partitionBy(col(groupCol), col("dow")).orderBy("m")
    val wAll = Window.partitionBy(col(groupCol), col("dow"))
    daily
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .groupBy(col(groupCol), col("dow"))
      .agg(
        max(col("__n")).as("n_days"),
        max(when(col("__rn") <= (col("__n") + 9) / lit(10), col("m"))).as("p10"),
        max(when(col("__rn") <= (col("__n") + 1) / lit(2), col("m"))).as("median"),
        max(when(col("__rn") <= (lit(9) * col("__n") + 9) / lit(10), col("m")))
          .as("p90"))
  }

  /** Mann-Kendall trend test (Mann 1945; Kendall 1975) over the daily
    * roll-up — [[theilSenFit]]'s hypothesis-test companion: S =
    * Σ_{i<j} sign(m_j − m_i) answers "is there a monotone trend AT
    * ALL" nonparametrically before Theil-Sen quantifies its slope.
    * S is an INTEGER statistic (the rare estimator that needs no float
    * discipline anywhere), Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18
    * with the tie correction an integer sum over tie-group sizes, and
    * the continuity-corrected z = (S∓1)/√Var is three fixed IEEE ops
    * (sqrt is correctly rounded by IEEE in any engine).
    *
    * Same metadata-sized pair explosion over the daily table as
    * [[theilSenFit]]; ties on the 6dp grid compare exactly. Groups
    * with zero variance (n < 2 or all-tied) emit null z.
    */
  def mannKendall(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      zAlarm: Double = 1.96): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyMean(df, groupCol, tsCol, valueCol)
    val idx = daily.withColumn("i",
      row_number().over(Window.partitionBy(groupCol).orderBy("day")).cast("long"))
      .select(col(groupCol), col("i"), col("m"))
      .localCheckpoint(true)
    val a = idx.select(col(groupCol), col("i").as("ia"), col("m").as("ma"))
    val b = idx.select(col(groupCol), col("i").as("ib"), col("m").as("mb"))
    val sTab = a.join(b, Seq(groupCol)).filter(col("ia") < col("ib"))
      .groupBy(col(groupCol))
      .agg(sum(signum(col("mb") - col("ma")).cast("long")).as("s_stat"))
    val ties = idx.groupBy(col(groupCol), col("m"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).cast("long").as("__distinct"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("__tie_sum"),
        sum(col("t")).as("n_days"))
    ties.join(sTab, Seq(groupCol), "left")
      .select(col(groupCol), col("n_days"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"),
        ((col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
          - col("__tie_sum")).cast("double") / 18.0).as("__var"))
      .select(col(groupCol), col("n_days"), col("s_stat"),
        round(col("__var"), 6).as("var_s"),
        when(col("__var") > 0,
          round(
            when(col("s_stat") > 0,
              (col("s_stat") - 1).cast("double") / sqrt(col("__var")))
            .when(col("s_stat") < 0,
              (col("s_stat") + 1).cast("double") / sqrt(col("__var")))
            .otherwise(lit(0.0)), 6)).as("z"))
      .withColumn("trend",
        when(col("z").isNull, lit("none"))
          .when(col("z") > zAlarm, lit("increasing"))
          .when(col("z") < -zAlarm, lit("decreasing"))
          .otherwise(lit("none")))
  }

  /** Classical seasonal decomposition of the daily-mean series
    * (moving-average STL-lite): trend = centered (2w+1)-day moving
    * average (null at the edges where the window is partial — honest
    * NaN-free edges rather than a shrinking-window bias), seasonal =
    * the mean DETRENDED value of the day's day-of-week, residual =
    * m - trend - seasonal. The additive decomposition every
    * capacity-planning and anomaly dashboard starts from; residuals
    * feed any of the per-point gates above with the weekly rhythm
    * removed.
    *
    * All arithmetic happens on the DAILY roll-up (one full-fact scan,
    * then metadata-sized windows); each derived column is rounded to
    * 6dp so an external window replay agrees bit-for-bit.
    */
  def seasonalDecompose(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      halfWindow: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(halfWindow >= 1, s"halfWindow must be >= 1, got $halfWindow")
    val daily = dailyMean(df, groupCol, tsCol, valueCol)
    val wOrd = Window.partitionBy(groupCol).orderBy("day")
    val wMa = wOrd.rowsBetween(-halfWindow, halfWindow)
    // Both window means staged through exact decimal sums (m and
    // __detr are already on the 6dp grid): the centered MA's frame is
    // ordered but its fold is not, and the per-(group, dow) seasonal
    // mean is an UNORDERED partition aggregate — the precise site of
    // the r13 cross-engine hash fail. Decimal sums are order-free;
    // the single cast-to-double + divide + round is scalar IEEE.
    val trended = daily
      .withColumn("__n_win", count(lit(1)).over(wMa))
      .withColumn("trend",
        when(col("__n_win") === 2 * halfWindow + 1,
          round(sum(col("m").cast("decimal(18,6)")).over(wMa).cast("double")
            / col("__n_win"), 6)))
      .withColumn("__detr", round(col("m") - col("trend"), 6))
      .withColumn("dow", dayofweek(col("day")))
    val wDow = Window.partitionBy(col(groupCol), col("dow"))
    trended
      .withColumn("seasonal",
        round(sum(col("__detr").cast("decimal(18,6)")).over(wDow).cast("double")
          / count(col("__detr")).over(wDow), 6))
      .withColumn("residual",
        when(col("trend").isNotNull,
          round(col("m") - col("trend") - col("seasonal"), 6)))
      .select(col(groupCol), col("day"), col("dow"), col("m"),
        col("trend"), col("seasonal"), col("residual"))
  }

  /** Autocorrelation function of the daily-mean series at lags
    * 1..maxLag — the seasonality detector (a weekly rhythm shows as an
    * ACF spike at lag 7) and the "is this series even forecastable"
    * diagnostic behind the EWMA/Holt charts above. Pearson correlation
    * between the series and its lag-ℓ shift, one row per (group, lag).
    *
    * One daily roll-up scan, then maxLag lag-columns and one melt over
    * the metadata-sized series; corr pairs are (m_k, m_{k-ℓ}) for
    * k > ℓ — the same n-ℓ pairs both engines see, rounded 6dp.
    */
  def autocorrelation(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      maxLag: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val daily = dailyMean(df, groupCol, tsCol, valueCol)
    val wOrd = Window.partitionBy(groupCol).orderBy("day")
    val lagged = (1 to maxLag).foldLeft(daily) { (d, l) =>
      d.withColumn(s"__lag$l", lag(col("m"), l).over(wOrd))
    }
    // Pearson r from EXACT decimal moment sums, not corr(): the daily
    // means are 6dp-rounded, so decimal(18,6) sums (and decimal
    // products for the cross terms) are bit-identical in any engine —
    // a float corr() could differ in the last ulp with summation order
    // and flip the 6th decimal.
    val xd = col("x").cast("decimal(18,6)")
    val yd = col("y").cast("decimal(18,6)")
    lagged
      .select(col(groupCol), explode(array((1 to maxLag).map(l =>
        struct(lit(l).as("lag"), col("m").as("x"), col(s"__lag$l").as("y"))): _*)).as("p"))
      .select(col(groupCol), col("p.lag").as("lag"), col("p.x"), col("p.y"))
      .filter(col("y").isNotNull)
      .groupBy(col(groupCol), col("lag"))
      .agg(
        count(lit(1)).as("n_pairs"),
        // Exact decimal sums, cast to double ONCE each: from here on
        // the arithmetic is scalar IEEE double — identical in any
        // engine — rather than engine-specific decimal precision rules.
        sum(xd).cast("double").as("__sx"), sum(yd).cast("double").as("__sy"),
        sum(xd * yd).cast("double").as("__sxy"),
        sum(xd * xd).cast("double").as("__sxx"),
        sum(yd * yd).cast("double").as("__syy"))
      .withColumn("__num",
        col("n_pairs") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__dx",
        col("n_pairs") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__dy",
        col("n_pairs") * col("__syy") - col("__sy") * col("__sy"))
      .withColumn("acf",
        when(col("__dx") > 0 && col("__dy") > 0,
          round(col("__num") / sqrt(col("__dx") * col("__dy")), 6)))
      .select(col(groupCol), col("lag"), col("n_pairs"), col("acf"))
  }

  /** Dominant seasonal period per group: the lag (≥ 2) with the
    * highest [[autocorrelation]] of the FIRST-DIFFERENCED daily series,
    * ties to the SHORTEST lag, plus an `is_seasonal` verdict at
    * `minAcf`. Differencing first is load-bearing, not decoration: a
    * trending series autocorrelates near 1 at EVERY lag, so raw ACF
    * declares any ramp "seasonal" at whatever lag noise favors
    * (spec-pinned); differences kill the trend (a ramp becomes a
    * constant → zero variance → null ACF) while a genuine rhythm
    * survives in its period's differences. The operator that picks
    * [[holtWintersForecast]]'s `period` argument from the data instead
    * of folklore. Pure composition: daily roll-up → lag-1 diff → ACF →
    * one rank window over the bounded (group × maxLag) table.
    */
  def detectPeriod(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      maxLag: Int = 14,
      minAcf: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxLag >= 2, s"need lags >= 2 to call anything a season, got $maxLag")
    val wOrd = Window.partitionBy(groupCol).orderBy("day")
    val wGrp = Window.partitionBy(groupCol)
    val diffed = dailyMean(df, groupCol, tsCol, valueCol)
      .withColumn("d", round(col("m") - lag(col("m"), 1).over(wOrd), 6))
      .filter(col("d").isNotNull)
      // Constant-diff groups (pure trends) leave the float moment
      // arithmetic with ~1e-15 dust instead of an exact zero variance,
      // which the ratio then amplifies into junk ACF — so gate on the
      // EXACT 6dp grid instead: all diffs equal ⟺ min == max, no
      // tolerance needed, and the group honestly has no season.
      .withColumn("__dmin", min(col("d")).over(wGrp))
      .withColumn("__dmax", max(col("d")).over(wGrp))
      .filter(col("__dmin") =!= col("__dmax"))
      .select(col(groupCol), col("day").cast("timestamp").as("__ts"), col("d"))
    autocorrelation(diffed, groupCol, "__ts", "d", maxLag)
      .filter(col("lag") >= 2 && col("acf").isNotNull)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("acf").desc, col("lag"))))
      .filter(col("__rk") === 1)
      .select(col(groupCol), col("lag").as("period"),
        col("acf").as("period_acf"),
        (col("acf") >= minAcf).as("is_seasonal"))
  }

  /** Two-sample Kolmogorov-Smirnov drift per group: D = max over x of
    * |F_base(x) - F_cur(x)| between the baseline and current empirical
    * CDFs — the nonparametric companion to [[psiDrift]] (no binning
    * choice, sensitive anywhere in the distribution, the classic "did
    * the distribution move" test). Emits one row per group with D, both
    * sample sizes, and the scaled statistic sqrt(n1*n2/(n1+n2))*D
    * (compare to 1.358 for alpha = 0.05).
    *
    * Shape: one (group, value, slice) count aggregation, then
    * cumulative windows over the DISTINCT-VALUE table (bounded by
    * distinct values per group, not rows) and a max — two shuffles of
    * counter rows. The CDF step logic evaluates at every observed value
    * from either sample, which is exactly where the max must live.
    */
  def ksDrift(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      isBaseline: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Null values are statistically meaningless in a KS test and,
    // worse, engine-divergent: Spark's window ORDER BY sorts nulls
    // first, DuckDB's defaults nulls last, so a null "CDF step" would
    // shift every cumulative gap. Drop them before counting.
    val counts = df
      .filter(col(valueCol).isNotNull)
      .withColumn("__base", isBaseline)
      .groupBy(col(groupCol), col(valueCol).as("v"))
      .agg(
        sum(when(col("__base"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("__base"), 1L).otherwise(0L)).as("c2"))
    val wCum = Window.partitionBy(groupCol).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCol)
    counts
      .withColumn("n1", sum(col("c1")).over(wAll))
      .withColumn("n2", sum(col("c2")).over(wAll))
      .withColumn("__d",
        abs(sum(col("c1")).over(wCum) / col("n1")
          - sum(col("c2")).over(wCum) / col("n2")))
      .groupBy(col(groupCol))
      .agg(
        round(max(col("__d")), 6).as("ks_d"),
        max(col("n1")).as("n_base"),
        max(col("n2")).as("n_cur"))
      .withColumn("ks_scaled",
        round(sqrt(col("n_base") * col("n_cur")
          / (col("n_base") + col("n_cur"))) * col("ks_d"), 6))
  }

  /** Tukey-fence (IQR) outliers per group: a row is an outlier when it
    * falls outside [q1 - k*iqr, q3 + k*iqr] of its group (k = 1.5 the
    * classic fence, 3.0 the "far out" fence). Same two-phase shape as
    * [[robustZScore]] with one percentile pass (q1 and q3 share a single
    * aggregation).
    */
  def iqrOutliers(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Double = 1.5,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    def pct(c: Column, p: Double): Column =
      if (exact) percentile(c, lit(p))
      else approx_percentile(c, lit(p), lit(accuracy))
    val fences = df.groupBy(col(groupCol))
      .agg(pct(col(valueCol), 0.25).as("_q1"), pct(col(valueCol), 0.75).as("_q3"))
      .withColumnRenamed(groupCol, "_g")
    df.join(fences, col(groupCol) === col("_g")).drop("_g")
      .withColumn("lo", round(col("_q1") - lit(k) * (col("_q3") - col("_q1")), 6))
      .withColumn("hi", round(col("_q3") + lit(k) * (col("_q3") - col("_q1")), 6))
      .withColumn("is_outlier", col(valueCol) < col("lo") || col(valueCol) > col("hi"))
      .drop("_q1", "_q3")
  }
}
