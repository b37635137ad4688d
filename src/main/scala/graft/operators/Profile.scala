package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Single-pass data profiling: per-column row/null/distinct counts and
  * value ranges for a whole table — the "what is in this 100 TB
  * directory" first question. All statistics for all columns are
  * computed in ONE aggregation over one scan (the same fused-suite
  * discipline as quality.CheckSuite): profiling N columns must not cost
  * N scans.
  *
  * Output is melted to one row per column (column, data_type, n_rows,
  * n_nulls, n_distinct, min_value, max_value — values rendered as
  * strings so heterogeneous types share a schema). Timestamps render as
  * unix micros for engine-portable comparisons. `exactDistinct` trades
  * the default approx_count_distinct sketch (bounded memory, the 100 TB
  * path) for exact counts (one extra distinct-agg pass per column — the
  * oracle-comparable mode).
  */
object Profile {

  /** Pairwise Pearson correlation matrix over `cols` in ONE scan: all
    * k(k-1)/2 pairs' sufficient statistics (pairwise-deleted n, Σx, Σy,
    * Σxy, Σx², Σy²) ride a single global aggregation — profiling k
    * columns costs one pass, never k² — and the r values assemble
    * driver-side from those counters (bounded at 6 doubles per pair,
    * the logRatios pattern). Engine-portable: inputs are 6dp-rounded
    * decimals so every sum is EXACT and order-free, and the final
    * r = (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) runs the same
    * IEEE ops in the same order as the SQL replay. r is null when
    * either side has zero variance (or n < 2) — never a 0/0.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlation needs at least two columns")
    require(cols.distinct.size == cols.size, "duplicate column in list")
    val spark = df.sparkSession
    val d = df.select(cols.map(c =>
      round(col(c).cast("double"), 6).cast("decimal(18,6)").as(c)): _*)
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.zipWithIndex.flatMap { case ((a, b), k) =>
      val both = col(a).isNotNull && col(b).isNotNull
      Seq(
        count(when(both, 1)).as(s"n_$k"),
        sum(when(both, col(a))).cast("double").as(s"sx_$k"),
        sum(when(both, col(b))).cast("double").as(s"sy_$k"),
        sum(when(both, col(a) * col(b))).cast("double").as(s"sxy_$k"),
        sum(when(both, col(a) * col(a))).cast("double").as(s"sxx_$k"),
        sum(when(both, col(b) * col(b))).cast("double").as(s"syy_$k"))
    }
    val row = d.agg(aggs.head, aggs.tail: _*).collect().head
    val out = pairs.zipWithIndex.map { case ((a, b), k) =>
      val n = row.getLong(row.fieldIndex(s"n_$k"))
      def g(p: String): Double =
        if (row.isNullAt(row.fieldIndex(s"${p}_$k"))) 0.0
        else row.getDouble(row.fieldIndex(s"${p}_$k"))
      val nd = n.toDouble
      val num = nd * g("sxy") - g("sx") * g("sy")
      val vx = nd * g("sxx") - g("sx") * g("sx")
      val vy = nd * g("syy") - g("sy") * g("sy")
      val r: Option[Double] =
        if (n >= 2 && vx > 0 && vy > 0)
          Some(BigDecimal(num / math.sqrt(vx * vy))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None
      (a, b, n, r)
    }
    import spark.implicits._
    out.toDF("col_a", "col_b", "n", "r")
  }

  /** DuckDB replay of [[correlationMatrix]]: one UNION ALL arm per
    * pair, each mirroring the engine arithmetic literally (6dp decimal
    * inputs, exact sums cast to double, same num/vx/vy order, same
    * guards). Generated, like the PageRank oracle — the engine knows
    * best what it computed.
    */
  def correlationOracleSql(table: String, cols: Seq[String]): String = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val selects = pairs.map { case (a, b) =>
      s"""  SELECT '$a' AS col_a, '$b' AS col_b, CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(*) AS DOUBLE) * CAST(sum(x * y) AS DOUBLE)
         |      - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE) AS num,
         |    CAST(count(*) AS DOUBLE) * CAST(sum(x * x) AS DOUBLE)
         |      - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE) AS vx,
         |    CAST(count(*) AS DOUBLE) * CAST(sum(y * y) AS DOUBLE)
         |      - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE) AS vy
         |  FROM (
         |    -- DECIMAL(19,6), not (18,6): DuckDB multiplies DECIMAL(18)
         |    -- pairs in int64 and overflows; 19+19 = 38 digits forces
         |    -- the exact int128 path. Same rational values either way.
         |    SELECT CAST(round(CAST($a AS DOUBLE), 6) AS DECIMAL(19,6)) AS x,
         |           CAST(round(CAST($b AS DOUBLE), 6) AS DECIMAL(19,6)) AS y
         |    FROM $table WHERE $a IS NOT NULL AND $b IS NOT NULL)""".stripMargin
    }
    s"""SELECT col_a, col_b, n,
       |  CASE WHEN n >= 2 AND vx > 0 AND vy > 0
       |       THEN round(num / sqrt(vx * vy), 6) END AS r
       |FROM (
       |${selects.mkString("\n  UNION ALL\n")})
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** Join-key skew report: the top-k heaviest keys with their share of
    * all rows, plus the table-wide skew ratio max/mean (mean = rows per
    * distinct key) — the number that says whether a shuffle on this key
    * needs salting BEFORE the job hangs. One counting shuffle; the
    * top-k travels as a TakeOrdered (k rows per partition cross the
    * wire, never the full key census), and the scalar stats ride a
    * broadcast one-row frame. Caches nothing: the scalar stats and the
    * top-k share the counting shuffle through exchange reuse.
    */
  def skewReport(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(
      sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_cnt"))
    counts.orderBy(col("cnt").desc, col(keyCol)).limit(topK)
      .crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col(keyCol))))
      .select(col("rank"), col(keyCol), col("cnt"),
        round(col("cnt").cast("double") / col("n_rows").cast("double"), 6)
          .as("share"),
        round(col("max_cnt").cast("double")
          / (col("n_rows").cast("double") / col("n_keys").cast("double")), 6)
          .as("skew_ratio"))
  }

  def profile(df: DataFrame, exactDistinct: Boolean = false): DataFrame = {
    val cols = df.schema.fields
    require(cols.nonEmpty, "cannot profile a zero-column frame")
    def render(f: StructField, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      f.dataType match {
        case TimestampType | TimestampNTZType => unix_micros(c).cast("string")
        case DateType => c.cast("string")
        case _: DecimalType | DoubleType | FloatType => c.cast("double").cast("string")
        // No portable ordering/rendering for nested or binary values —
        // counts still profile them, ranges stay null.
        case _: ArrayType | _: MapType | _: StructType | BinaryType =>
          lit(null).cast("string")
        case _ => c.cast("string")
      }
    val aggs = cols.flatMap { f =>
      val c = col(f.name)
      val distinct = f.dataType match {
        case _: MapType => lit(null).cast("long") // maps are not hashable
        case _ if exactDistinct => count_distinct(c)
        case _ => approx_count_distinct(c)
      }
      val (mn, mx) = f.dataType match {
        case _: ArrayType | _: MapType | _: StructType | BinaryType =>
          (lit(null).cast("string"), lit(null).cast("string"))
        case _ => (render(f, min(c)), render(f, max(c)))
      }
      Seq(
        count(c).as(s"__cnt_${f.name}"),
        distinct.as(s"__dst_${f.name}"),
        mn.as(s"__min_${f.name}"),
        mx.as(s"__max_${f.name}"))
    }
    val wide = df.agg(count(lit(1)).as("__rows"), aggs.toSeq: _*)
    // Melt the single wide row into one row per column: stack() keeps it
    // in-plan (no driver round-trip), and the input is ONE row so the
    // generate is free.
    val stackArgs = cols.flatMap { f =>
      Seq(
        lit(f.name),
        lit(f.dataType.simpleString),
        col("__rows") - col(s"__cnt_${f.name}"),
        col(s"__dst_${f.name}"),
        col(s"__min_${f.name}"),
        col(s"__max_${f.name}"))
    }
    wide.select(
      col("__rows").as("n_rows"),
      stack(
        Seq(lit(cols.length)) ++ stackArgs: _*
      ).as(Seq("column", "data_type", "n_nulls", "n_distinct", "min_value", "max_value")))
      .select("column", "data_type", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")
  }

  // ------------------------------------------------------------------ //
  //  Mergeable profile state — the incremental form.                    //
  // ------------------------------------------------------------------ //

  /** MERGEABLE per-column profile state: profile each shard / each
    * day's append independently, [[mergeProfileStates]] the states
    * (associative + commutative), [[profileFromState]] renders the
    * [[profile]] schema at read — at 100 TB the daily profile touches
    * only the new data, never a full-history rescan. Counts and
    * typed min/max merge as plain monoids; distinct counts ride the
    * DataSketches HLL sketch exactly like [[Sketches.hllState]].
    *
    * One state row per column: (column, data_type, n_rows, n_nonnull,
    * hll, min_l/max_l, min_n/max_n, min_s/max_s). Ranges keep their
    * ORDER-EXACT typed slot — longs and unix-micros timestamps in the
    * long slot, fractional/decimal in the double slot, strings/dates/
    * booleans in the string slot (ISO date and boolean strings order
    * like their values) — because merging the RENDERED strings of
    * [[profile]] would compare "10" < "9". Nested/binary ranges stay
    * null, maps also skip the sketch (not hashable), both as in
    * [[profile]].
    *
    * Estimate contract: counts and ranges are EXACT however the input
    * was sharded or merged; distinct estimates are NOT register-exact
    * across paths (DataSketches unions run HLL_8 while fresh sketches
    * are HLL_4, and the conversions are path-dependent) — every
    * sharding and merge order is an estimator of the same truth within
    * the sketch's error band (~1.6% rsd at the lgK=12 default;
    * observed <=1.5% across 2-way/3-way/reassociated paths at 1k
    * distincts, pinned at 5% in ProfileSpec).
    */
  def profileState(df: DataFrame, lgK: Int = 12): DataFrame = {
    val cols = df.schema.fields
    require(cols.nonEmpty, "cannot profile a zero-column frame")
    def slot(f: StructField): String = f.dataType match {
      case ByteType | ShortType | IntegerType | LongType => "l"
      case TimestampType | TimestampNTZType => "ts"
      case _: DecimalType | DoubleType | FloatType => "n"
      case StringType | DateType | BooleanType => "s"
      case _ => "none"
    }
    val aggs = cols.flatMap { f =>
      val c = col(f.name)
      // HLL input: DataSketches aggs accept int/long/string/binary;
      // everything else sketches its exact string rendering (distinct
      // counts are preserved by an injective render).
      val hllIn = f.dataType match {
        case _: MapType => lit(null).cast(StringType) // not hashable
        case IntegerType | LongType | StringType | BinaryType => c
        case _ => c.cast("string")
      }
      val (mnl, mxl) = slot(f) match {
        case "l" => (min(c).cast("long"), max(c).cast("long"))
        case "ts" => (unix_micros(min(c)), unix_micros(max(c)))
        case _ => (lit(null).cast("long"), lit(null).cast("long"))
      }
      val (mnn, mxn) = slot(f) match {
        case "n" => (min(c).cast("double"), max(c).cast("double"))
        case _ => (lit(null).cast("double"), lit(null).cast("double"))
      }
      val (mns, mxs) = slot(f) match {
        case "s" => (min(c).cast("string"), max(c).cast("string"))
        case _ => (lit(null).cast("string"), lit(null).cast("string"))
      }
      Seq(
        count(c).as(s"__cnt_${f.name}"),
        hll_sketch_agg(hllIn, lit(lgK)).as(s"__hll_${f.name}"),
        mnl.as(s"__mnl_${f.name}"), mxl.as(s"__mxl_${f.name}"),
        mnn.as(s"__mnn_${f.name}"), mxn.as(s"__mxn_${f.name}"),
        mns.as(s"__mns_${f.name}"), mxs.as(s"__mxs_${f.name}"))
    }
    val wide = df.agg(count(lit(1)).as("__rows"), aggs.toSeq: _*)
    val stackArgs = cols.flatMap { f =>
      Seq(
        lit(f.name), lit(f.dataType.simpleString),
        col(s"__cnt_${f.name}"), col(s"__hll_${f.name}"),
        col(s"__mnl_${f.name}"), col(s"__mxl_${f.name}"),
        col(s"__mnn_${f.name}"), col(s"__mxn_${f.name}"),
        col(s"__mns_${f.name}"), col(s"__mxs_${f.name}"))
    }
    wide.select(
      col("__rows").as("n_rows"),
      stack(Seq(lit(cols.length)) ++ stackArgs: _*)
        .as(Seq("column", "data_type", "n_nonnull", "hll",
          "min_l", "max_l", "min_n", "max_n", "min_s", "max_s")))
      .select("column", "data_type", "n_rows", "n_nonnull", "hll",
        "min_l", "max_l", "min_n", "max_n", "min_s", "max_s")
  }

  /** Column-wise merge of profile states (same source schema): counts
    * sum, sketches union, each typed range slot takes its min/max.
    */
  def mergeProfileStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("column"), col("data_type"))
      .agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_nonnull")).as("n_nonnull"),
        hll_union_agg(col("hll")).as("hll"),
        min(col("min_l")).as("min_l"), max(col("max_l")).as("max_l"),
        min(col("min_n")).as("min_n"), max(col("max_n")).as("max_n"),
        min(col("min_s")).as("min_s"), max(col("max_s")).as("max_s"))
      .select("column", "data_type", "n_rows", "n_nonnull", "hll",
        "min_l", "max_l", "min_n", "max_n", "min_s", "max_s")

  /** Render a (possibly merged) state to the [[profile]] output schema.
    * Range strings reproduce [[profile]]'s conventions exactly: longs
    * and unix-micros timestamps print as integers, fractional slots as
    * double renderings, string slots verbatim.
    */
  def profileFromState(state: DataFrame): DataFrame =
    state.select(
      col("column"),
      col("data_type"),
      col("n_rows"),
      (col("n_rows") - col("n_nonnull")).as("n_nulls"),
      // Maps carry no sketch (not hashable) — null distinct, as in
      // [[profile]], rather than an empty-sketch zero.
      when(col("data_type").startsWith("map"), lit(null).cast("long"))
        .otherwise(hll_sketch_estimate(col("hll"))).as("n_distinct"),
      coalesce(col("min_l").cast("string"), col("min_n").cast("string"),
        col("min_s")).as("min_value"),
      coalesce(col("max_l").cast("string"), col("max_n").cast("string"),
        col("max_s")).as("max_value"))

  /** Fixed-edge equi-width histogram per group: FROZEN [lo, hi) bounds
    * and bin count come from the CALLER (data-independent edges — the
    * frozen-stats discipline; a data-derived min/max would re-bucket
    * every refresh and break cross-run comparability). Out-of-range
    * values clamp into the edge bins so mass is never silently
    * dropped; share is one integer-ratio division. bin_lo/bin_hi are
    * fixed scalar chains off the integer bin index.
    *
    * One aggregation over the facts; output bounded by groups × bins.
    */
  def histogram(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      bins: Int,
      lo: Double,
      hi: Double): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val width = (hi - lo) / bins
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    val bin = least(greatest(
      floor((col(valueCol) - lo) / width).cast("long"), lit(0L)),
      lit(bins - 1L))
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        round(col("n").cast("double") / sum(col("n")).over(wAll), 6))
      .select(col(groupCol), col("bin"),
        round(lit(lo) + col("bin") * width, 6).as("bin_lo"),
        round(lit(lo) + (col("bin") + 1) * width, 6).as("bin_hi"),
        col("n"), col("share"))
  }
}
