package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Engine-PORTABLE HyperLogLog (Flajolet et al. 2007) — approximate
  * distinct counting whose sketch AND estimate are bit-reproducible
  * across engines, runs, and shardings, unlike Spark's built-in
  * `approx_count_distinct` (HLL++ register layout + bias tables are
  * Spark-internal; `q_approx_distinct` is rows-only for exactly that
  * reason — this is its oracle-checkable twin).
  *
  * Portability by construction, per the house rules:
  *  - the hash is md5 on the value's canonical string form (the same
  *    primitive every deterministic sampler here uses): register =
  *    first b/4 hex chars, rank input w = the NEXT 13 hex chars (52
  *    uniform bits);
  *  - rho = leading-zero count of w in 52 bits + 1 = 53 − bitlength(w)
  *    (w = 0 caps at 53) — INTEGER arithmetic via the binary-string
  *    length both engines expose (`bin`);
  *  - registers fold as `max` (exact, order-free, mergeable — sketch
  *    union IS per-register max, so shard-and-merge equals one-shot
  *    bit for bit);
  *  - the harmonic sum Σ 2^−M_j is computed as the INTEGER
  *    Σ 2^(53−M_j) (≤ m·2^53 ≤ 2^61, fits BIGINT exactly; absent
  *    registers contribute 2^53 each, added arithmetically — the
  *    sketch never materializes empty registers), and the estimate
  *    α_m·m² / (N/2^53) is a FIXED 3-op IEEE sequence on
  *    engine-identical inputs — single correctly-rounded ops are
  *    bit-portable; only unordered float SUMS need decimal staging,
  *    and there are none here.
  *
  * The RAW estimate is emitted (rounded 4dp) alongside the zero-
  * register count. The standard small-range linear-counting
  * correction (m·ln(m/V) when E ≤ 2.5m and V > 0) involves `ln`,
  * whose last ulp is libm-specific — so [[estimate]] keeps it OUT of
  * the oracle-checked columns and [[estimateCorrected]] applies it
  * JVM-side for API users (spec-pinned, not hash-gated).
  *
  * 100 TB shape: one full-fact pass to (group, register) — at most
  * m rows per group survive the map-side-combined max — then a
  * metadata-sized per-group fold. Merging standing shards is a max
  * over register tables: counters cross the wire, never rows.
  */
object PortableHll {

  /** α_m · m² for the raw-estimate numerator; α_m per Flajolet et al.
    * 2007 (m ≥ 128 branch). Embedded as one literal on both engines so
    * no constant-folding order can differ.
    */
  def alphaM2(b: Int): Double = {
    val m = 1 << b
    val alpha =
      if (m >= 128) 0.7213 / (1 + 1.079 / m)
      else if (m == 64) 0.709
      else if (m == 32) 0.697
      else 0.673
    alpha * m * m
  }

  /** The sketch: present (group, register, rho) rows — ≤ 2^b per group
    * regardless of input size. Null values are skipped (they carry no
    * identity to count). `b` must be a multiple of 4 (the register is
    * parsed from whole hex chars) in [4, 16].
    */
  def registers(
      df: DataFrame,
      groupCol: String,
      value: Column,
      b: Int = 8): DataFrame = {
    require(b % 4 == 0 && b >= 4 && b <= 16,
      s"b must be a multiple of 4 in [4,16], got $b")
    val hexChars = b / 4
    val h = md5(value.cast("string"))
    val reg = conv(substring(h, 1, hexChars), 16, 10).cast("long")
    val w = conv(substring(h, hexChars + 1, 13), 16, 10).cast("long")
    val rho = when(w === 0L, lit(53))
      .otherwise(lit(53) - length(bin(w))).cast("int")
    df.filter(value.isNotNull)
      .select(col(groupCol), reg.as("reg"), rho.as("rho"))
      .groupBy(col(groupCol), col("reg"))
      .agg(max(col("rho")).as("rho"))
  }

  /** Sketch union: per-register max across any number of register
    * tables. merge(registers(A), registers(B)) == registers(A ∪ B)
    * exactly — max is associative, commutative, idempotent.
    */
  def merge(regTables: DataFrame*): DataFrame = {
    require(regTables.nonEmpty, "need at least one register table")
    regTables.reduce(_ unionByName _)
      .groupBy(regTables.head.columns.dropRight(1).map(col).toIndexedSeq: _*)
      .agg(max(col("rho")).as("rho"))
  }

  /** (group, n_zero, approx_distinct): the zero-register count and the
    * raw HLL estimate rounded 4dp — both bit-portable (see object doc).
    */
  def estimate(
      regs: DataFrame,
      groupCol: String,
      b: Int = 8): DataFrame = {
    val m = (1L << b)
    val two53 = 9007199254740992.0 // 2^53
    regs.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("__present"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - rho)")).as("__np"))
      // Guard the b contract: a register table sketched with a LARGER b
      // than the caller passes here has up to 2^b' > m distinct
      // registers per group, which would silently yield negative n_zero
      // and a garbage estimate. assert_true rides the existing
      // aggregation (no extra pass) and fails the job loudly instead.
      .select(col(groupCol),
        when(assert_true(col("__present") <= lit(m),
          lit(s"PortableHll.estimate: more than m=$m registers in a " +
            "group — the register table was sketched with a larger b " +
            "than passed here")).isNull,
          lit(m) - col("__present")).as("n_zero"),
        round(lit(alphaM2(b)) /
          ((col("__np") + (lit(m) - col("__present")) * lit(1L << 53))
            .cast("double") / lit(two53)), 4).as("approx_distinct"))
  }

  /** [[estimate]] + the standard small-range correction: when the raw
    * estimate E ≤ 2.5m and zero registers exist, linear counting
    * m·ln(m/V) replaces E. `ln`'s last ulp is libm-specific, so this
    * column is for API users (spec-pinned accuracy), NOT for oracle
    * hashing — contract queries emit [[estimate]]'s columns.
    */
  def estimateCorrected(
      regs: DataFrame,
      groupCol: String,
      b: Int = 8): DataFrame = {
    val m = (1L << b).toDouble
    estimate(regs, groupCol, b)
      .withColumn("approx_distinct_corrected",
        when(col("approx_distinct") <= 2.5 * m && col("n_zero") > 0,
          round(lit(m) * log(lit(m) / col("n_zero")), 4))
          .otherwise(col("approx_distinct")))
  }

  /** One-shot convenience: sketch + estimate. */
  def distinctApprox(
      df: DataFrame,
      groupCol: String,
      value: Column,
      b: Int = 8): DataFrame =
    estimate(registers(df, groupCol, value, b), groupCol, b)

  /** Pairwise SET-OPERATION estimates between groups ("how much do the
    * audiences of A and B overlap"): per unordered group pair, the
    * distinct estimates of A, B, A ∪ B (register-wise max — exact
    * sketch algebra) and A ∩ B by inclusion-exclusion
    * (est_a + est_b − est_union, floored at 0 since sketch error can
    * push a near-disjoint pair slightly negative), plus the implied
    * Jaccard. Everything derives from ONE register sketch pass; the
    * pair fan-out replicates ≤ 2^b counter rows per (group, pair) —
    * group-count-bounded, never touching the fact table again. The
    * same md5-register arithmetic as [[estimate]], so the whole pair
    * table replays bit-exactly in SQL. Caches nothing: its consumers
    * recompute the register table, one more fact scan, which Meter at
    * sf0.1 reads as fewer jobs and less task time than the cache.
    */
  def overlapEstimate(
      df: DataFrame,
      groupCol: String,
      value: Column,
      b: Int = 8): DataFrame = {
    val m = 1L << b
    val regs = registers(df, groupCol, value, b)
    val singles = estimate(regs, groupCol, b)
      .select(col(groupCol).as("__g"), col("approx_distinct").as("__e"))
    val groups = regs.select(col(groupCol).as("ga")).distinct()
    val gp = groups.crossJoin(groups.select(col("ga").as("gb")))
      .filter(col("ga") < col("gb"))
    val uRegs = gp.join(regs.select(col(groupCol).as("ga"), col("reg"), col("rho")),
        Seq("ga"))
      .select(col("ga"), col("gb"), col("reg"), col("rho"))
      .unionByName(
        gp.join(regs.select(col(groupCol).as("gb"), col("reg"), col("rho")),
          Seq("gb"))
        .select(col("ga"), col("gb"), col("reg"), col("rho")))
      .groupBy(col("ga"), col("gb"), col("reg"))
      .agg(max(col("rho")).as("rho"))
    val two53 = 9007199254740992.0
    val uEst = uRegs.groupBy(col("ga"), col("gb"))
      .agg(
        count(lit(1)).as("__present"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - rho)")).as("__np"))
      .select(col("ga"), col("gb"),
        round(lit(alphaM2(b)) /
          ((col("__np") + (lit(m) - col("__present")) * lit(1L << 53))
            .cast("double") / lit(two53)), 4).as("union_distinct"))
    val inter = greatest(lit(0.0),
      round(col("distinct_a") + col("distinct_b") - col("union_distinct"), 4))
    uEst
      .join(singles.select(col("__g").as("ga"), col("__e").as("distinct_a")), Seq("ga"))
      .join(singles.select(col("__g").as("gb"), col("__e").as("distinct_b")), Seq("gb"))
      .select(col("ga"), col("gb"),
        col("distinct_a"), col("distinct_b"), col("union_distinct"),
        inter.as("intersect_distinct"),
        // Clamp to <=1: sketch error on near-identical sets can make
        // est_a + est_b - union exceed union by epsilon.
        when(col("union_distinct") > 0,
          least(lit(1.0), round(inter / col("union_distinct"), 6)))
          .as("est_jaccard"))
  }
}
