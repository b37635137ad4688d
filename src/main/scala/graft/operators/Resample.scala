package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Irregular-series → fixed-grid resampling (gap fill): per group, an
  * epoch-aligned grid of `stepSeconds` ticks spanning the group's
  * observation range, each tick valued by last-observation-carried-
  * forward or linear interpolation — the bridge from event streams to
  * the fixed-cadence series every forecaster/joiner downstream wants
  * (Holt, seasonal decompose, drift monitors all assume a grid).
  *
  * Semantically this is two as-of joins (backward for the previous
  * observation, forward for the next) — but fused into ONE union +
  * window pass: grid ticks and observations union into a single
  * stream, one user-partitioned sort, and `last(ignoreNulls)` /
  * `first(ignoreNulls)` frames recover both neighbors. One shuffle
  * where the compose would pay two; the sort key (tsu, is_grid) puts a
  * coincident observation BEFORE its tick so "at or before" includes
  * it (the as-of backward contract).
  *
  * Grid bounds: start = ceil(min/step)·step, end = floor(max/step)·step
  * — every tick lies inside the observed range, so LOCF is total (no
  * leading nulls) and interpolation always has both neighbors (a tick
  * on the last observation takes the prev branch). Multiple
  * observations at one instant collapse to their 6dp mean first; the
  * fill values are 6dp-rounded. Timestamps leave as unix seconds
  * (`grid_ts_sec`) per the house no-raw-timestamp output rule.
  *
  * 100 TB shape: per-group state is the grid length (bounded by
  * range/step — cap the step, not the data); the union stream shuffles
  * once on the group key and everything after is a single window scan.
  * Grid generation is `sequence()` off a per-group min/max aggregate —
  * metadata-sized.
  */
object Resample {

  def toGrid(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      stepSeconds: Long,
      method: String = "locf"): DataFrame = {
    require(stepSeconds > 0, s"step must be positive, got $stepSeconds")
    require(Set("locf", "interp")(method), s"unknown fill method: $method")
    // The grid bounds and the union each compute the per-instant table,
    // one more source scan, which Meter at sf0.1 reads as fewer jobs and
    // less task time than caching it.
    val obs = df
      .select(col(groupCol).as("g"),
        unix_timestamp(col(tsCol)).as("tsu"),
        col(valueCol).cast("double").as("v0"))
      // Same-instant duplicates collapse through an exact decimal sum,
      // not avg(double) — order-free, so the DuckDB replay's fold
      // order can't flip the 6th decimal (the r14 portability sweep).
      .groupBy("g", "tsu")
      .agg(round(
        sum(round(col("v0"), 6).cast("decimal(18,6)")).cast("double")
          / count(col("v0")), 6).as("v"))
    val bounds = obs.groupBy("g")
      .agg(min(col("tsu")).as("mn"), max(col("tsu")).as("mx"))
      .select(col("g"),
        (floor((col("mn") + lit(stepSeconds - 1)).cast("double") / stepSeconds)
          .cast("long") * stepSeconds).as("start"),
        (floor(col("mx").cast("double") / stepSeconds)
          .cast("long") * stepSeconds).as("end"))
      .filter(col("end") >= col("start"))
    val grid = bounds.select(col("g"),
      explode(sequence(col("start"), col("end"), lit(stepSeconds))).as("tsu"))
    val unioned = grid
      .select(col("g"), col("tsu"), lit(null).cast("double").as("v"),
        lit(1).as("is_grid"))
      .unionByName(obs.select(col("g"), col("tsu"), col("v"),
        lit(0).as("is_grid")))
    val ord = Window.partitionBy("g").orderBy(col("tsu"), col("is_grid"))
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = unioned
      .withColumn("prev_v", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("prev_ts",
        last(when(col("v").isNotNull, col("tsu")), ignoreNulls = true).over(back))
      .withColumn("next_v", first(col("v"), ignoreNulls = true).over(fwd))
      .withColumn("next_ts",
        first(when(col("v").isNotNull, col("tsu")), ignoreNulls = true).over(fwd))
    val value = method match {
      case "locf" => col("prev_v")
      case "interp" =>
        when(col("next_ts").isNotNull && col("next_ts") =!= col("prev_ts"),
          round(col("prev_v") + (col("next_v") - col("prev_v"))
            * ((col("tsu") - col("prev_ts")).cast("double")
               / (col("next_ts") - col("prev_ts")).cast("double")), 6))
          .otherwise(col("prev_v"))
    }
    filled.filter(col("is_grid") === 1)
      .select(col("g").as(groupCol), col("tsu").as("grid_ts_sec"),
        value.as("value"))
  }

  /** Time-weighted average (TWAP) per group over the irregular series:
    * the integral of the LOCF step function across [first, last]
    * observation divided by the span — the mean a fixed-grid resample
    * converges to, computed exactly without materializing any grid.
    * The honest average for irregularly-sampled gauges, where the
    * arithmetic mean over-weights chatty periods.
    *
    * Portability: each observation's weight is its integer MICROSECOND
    * duration to the next observation (lead window); the value rides
    * the 6dp grid; weight × value products and their sum are exact
    * decimals (order-free), and the one final division is scalar IEEE.
    * Multiple observations at one instant collapse to their staged 6dp
    * mean first (zero-duration rows would silently vanish from the
    * integral otherwise — their values must still influence the step).
    * Single-instant groups have an empty span → null twap, n_obs kept.
    *
    * Shape: one instant-collapse aggregation, one per-group window for
    * the lead, one final aggregation — all on (group, instant) grain.
    */
  def twap(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String): DataFrame = {
    val byInstant = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("g"), unix_micros(col(tsCol)).as("tsu"))
      .agg(round(
        sum(round(col(valueCol), 6).cast("decimal(18,6)")).cast("double")
          / count(col(valueCol)), 6).as("v"))
    val wLead = Window.partitionBy("g").orderBy("tsu")
    byInstant
      .withColumn("dur", lead(col("tsu"), 1).over(wLead) - col("tsu"))
      .groupBy(col("g"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum(col("dur")).as("__span"),
        sum(col("v").cast("decimal(18,6)") * col("dur")).as("__integral"))
      .select(col("g").as(groupCol), col("n_obs"),
        when(col("__span") > 0,
          round(col("__integral").cast("double") / col("__span"), 6))
          .as("twap"))
  }
}
