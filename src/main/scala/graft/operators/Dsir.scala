package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** DSIR-style data selection via importance resampling (Xie et al.
  * 2023, "Data Selection for Language Models via Importance
  * Resampling"): select raw-corpus documents that LOOK LIKE a small
  * target corpus by scoring each document under two bag-of-hashed-
  * n-gram unigram models — log w(d) = log p_target(d) − log p_raw(d) —
  * and resampling proportionally to w. The principled replacement for
  * hand-tuned per-source mixture weights: the target corpus IS the
  * weighting.
  *
  * Feature space: word unigrams + bigrams hashed into `buckets` slots
  * (the paper's hashed n-gram features). Hashing is engine-portable:
  * ONE 60-bit md5 prefix parse per TOKEN (r15 — was one digest per
  * gram string), with the bigram hash derived by the integer mix
  * rot17_60(h1) XOR h2; the DuckDB oracle recomputes the identical
  * bucket sequence from the same per-token digests, and the whole
  * build runs as one codegen'd byte pass ([[graft.plans.Kernels.dsirBuckets]]).
  *
  * 100 TB shape:
  *   - [[featureCensus]] is one explode + map-combined groupBy into at
  *     most `buckets` rows — census size is O(buckets), independent of
  *     corpus size, and mergeable (plain counts) across shards/batches.
  *   - [[importanceWeights]] scoring is ROW-LOCAL by default: the two
  *     censuses collapse to one dense `buckets`-length log-ratio array
  *     (driver-built, metadata-sized like a centroid table) inlined as
  *     a literal, and each document folds its own bucket sequence over
  *     `element_at` — zero shuffle, zero join on the corpus. Past
  *     `maxInlineBuckets` the ratio table rides an explode + broadcast
  *     join + per-doc re-aggregation instead (one corpus shuffle).
  *   - [[resampleTopK]] runs the Efraimidis–Spirakis race in LOG space
  *     (key = ln(−ln u) − log w), so weights spanning hundreds of nats
  *     never exponentiate; the cutoff comes from the Selection descent
  *     (counters cross the wire, not rows) exactly like
  *     [[TrainingData.exactSampleWeighted]].
  *
  * Determinism: every per-document fold runs over the SORTED bucket
  * sequence (ascending, repeats adjacent), so the float sum is a fixed
  * left-association both here and in the SQL replay — the byteEntropy
  * ascending-order rule applied to gram buckets.
  */
object Dsir {

  /** Per-occurrence hashed feature buckets of a document: word n-grams
    * for each n in `ns`, each hashed to `pmod(md5_60(gram), buckets)`.
    * A multiset (one entry per gram occurrence), sorted ascending so
    * downstream float folds are order-canonical.
    */
  def hashedBuckets(textCol: Column, buckets: Int, ns: Seq[Int] = Seq(1, 2)): Column = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(ns == Seq(1, 2),
      s"the uni+bigram kernel is the only supported feature space, got $ns")
    // r15: ONE codegen'd tokenize+md5 pass (Kernels.dsirBuckets) — the
    // HOF formulation tokenized and digested the corpus once PER GRAM
    // ORDER and evaluated its lambdas interpreted (~5.5s/pass of the
    // sf0.1 profile was this expression alone). Unigram hashes are the
    // same 60-bit md5 parse the oracle always replayed; bigrams now
    // derive by the portable rot17-xor mix of the two token hashes
    // instead of digesting the concatenated gram string.
    graft.plans.HashExpressions.dsirBuckets(textCol, buckets)
  }

  /** Hashed-gram census of a corpus slice: (bucket, cnt) with at most
    * `buckets` rows. Mergeable by summing counts; the target census is
    * typically built from a benchmark-sized slice, the raw census from
    * the corpus itself (or a uniform sample of it — the counts only
    * enter through smoothed frequencies).
    */
  def featureCensus(
      df: DataFrame,
      textCol: String,
      buckets: Int,
      ns: Seq[Int] = Seq(1, 2)): DataFrame =
    df.select(explode(hashedBuckets(col(textCol), buckets, ns)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))

  /** Target AND raw censuses in ONE corpus pass, for the standard DSIR
    * setup where the target slice is a PREDICATE over the same corpus
    * (lang == 'en', a quality gate...): explode the grams once, count
    * (all, where-pred) per bucket, split the materialized result. The
    * counts are exactly [[featureCensus]]'s (integer counting commutes
    * with the split — spec-pinned), so downstream weights and oracle
    * hashes are unchanged while the corpus is hashed ONCE instead of
    * twice. The fused aggregate is localCheckpoint'ed (≤ `buckets` rows)
    * so the two returned frames never re-trigger the scan.
    */
  def featureCensusPair(
      df: DataFrame,
      textCol: String,
      buckets: Int,
      targetPred: Column,
      ns: Seq[Int] = Seq(1, 2)): (DataFrame, DataFrame) = {
    val fused = df
      .select(targetPred.as("__t"),
        explode(hashedBuckets(col(textCol), buckets, ns)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), count(when(col("__t"), 1)).as("tcnt"))
      .localCheckpoint(true)
    (fused.filter(col("tcnt") > 0).select(col("bucket"), col("tcnt").as("cnt")),
      fused.select("bucket", "cnt"))
  }

  /** Persist one ingestion batch's hashed-gram census as a
    * [[CensusStore]] delta — the DSIR census is a plain mergeable count
    * table (counts add), so the standing raw census of a 100 TB corpus
    * accretes per batch exactly like the frozen-LM token census:
    * overwrite-idempotent deltas, crash-safe compaction, fold-watermark
    * replay guard, all inherited. Incremental == one-shot is
    * count-exact (integer sums), pinned by the `q_dsir_weights_incr`
    * oracle replaying the full-corpus recompute.
    */
  def appendFeatureCensusDelta(
      df: DataFrame,
      textCol: String,
      buckets: Int,
      path: String,
      batchId: Long,
      ns: Seq[Int] = Seq(1, 2)): Unit =
    CensusStore.appendDelta(
      featureCensus(df, textCol, buckets, ns)
        .select(col("bucket"), col("cnt").as("n")),
      path, batchId)

  /** Append one batch's TARGET and RAW census deltas from a single
    * fused hashing pass ([[featureCensusPair]]) — the per-batch
    * ingestion shape: `<root>/target` and `<root>/raw` accrete
    * together, the batch's grams are hashed once. Counts identical to
    * two [[appendFeatureCensusDelta]] calls (spec-pinned via the pair
    * builder), at half the scan cost.
    */
  def appendFeatureCensusPairDeltas(
      df: DataFrame,
      textCol: String,
      buckets: Int,
      targetPred: Column,
      root: String,
      batchId: Long,
      ns: Seq[Int] = Seq(1, 2)): Unit = {
    val (tc, rc) = featureCensusPair(df, textCol, buckets, targetPred, ns)
    CensusStore.appendDelta(
      tc.select(col("bucket"), col("cnt").as("n")), s"$root/target", batchId)
    CensusStore.appendDelta(
      rc.select(col("bucket"), col("cnt").as("n")), s"$root/raw", batchId)
  }

  /** Structured Streaming form: every micro-batch appends its fused
    * target/raw census deltas — the DSIR censuses accrete as an
    * ingestion side effect, so scoring/selection always has a current
    * ratio table without a census job. Replay-safe end to end:
    * CensusStore deltas are overwrite-idempotent per batch id and the
    * fold watermark skips already-compacted batches. Streamed == batch
    * counts are spec-pinned.
    */
  def censusSink(
      stream: DataFrame,
      textCol: String,
      buckets: Int,
      targetPred: Column,
      root: String,
      checkpoint: String,
      ns: Seq[Int] = Seq(1, 2)): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendFeatureCensusPairDeltas(b, textCol, buckets, targetPred, root, id, ns)
      }
      .start()

  /** Read a standing feature census back in [[featureCensus]] shape. */
  def readFeatureCensus(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    CensusStore.read(spark, path, "bucket")
      .select(col("bucket"), col("n").as("cnt"))

  /** Dense per-bucket log importance ratio from two censuses, with
    * add-one smoothing on both sides:
    *   lr[b] = ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B)).
    * Driver-side: both inputs are ≤ `buckets` rows by construction.
    * Identical census frames yield EXACTLY 0.0 everywhere (the two ln
    * terms cancel symbolically before any float subtraction).
    */
  private def logRatios(
      target: DataFrame,
      raw: DataFrame,
      buckets: Int): Array[Double] = {
    def dense(census: DataFrame): (Array[Long], Double) = {
      val counts = new Array[Long](buckets)
      census.select(col("bucket").cast("int"), col("cnt").cast("long"))
        .collect().foreach(r => counts(r.getInt(0)) = r.getLong(1))
      (counts, counts.sum.toDouble + buckets)
    }
    val (tc, tTot) = dense(target)
    val (rc, rTot) = dense(raw)
    Array.tabulate(buckets) { b =>
      (math.log(tc(b) + 1.0) - math.log(tTot)) -
        (math.log(rc(b) + 1.0) - math.log(rTot))
    }
  }

  /** Score every document: adds `log_weight` = Σ over the doc's sorted
    * hashed-gram occurrences of the bucket's log ratio (0.0 for a
    * gramless doc). `inlineRatios = None` auto-selects the zero-shuffle
    * literal-array fold while `buckets <= maxInlineBuckets` and the
    * explode + broadcast-join + ordered re-fold path past it (the
    * CorpusStats broadcast-guard pattern); both paths fold in ascending
    * bucket order and are bit-identical (spec-pinned).
    */
  def importanceWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      targetCensus: DataFrame,
      rawCensus: DataFrame,
      buckets: Int,
      ns: Seq[Int] = Seq(1, 2),
      inlineRatios: Option[Boolean] = None,
      maxInlineBuckets: Int = 1 << 20): DataFrame = {
    val lr = logRatios(targetCensus, rawCensus, buckets)
    val inline = inlineRatios.getOrElse(buckets <= maxInlineBuckets)
    val bs = hashedBuckets(col(textCol), buckets, ns)
    if (inline) {
      // Codegen'd ordered lookup-sum kernel, not `aggregate(bs, 0.0,
      // (acc, b) => acc + element_at(lit(lr), b+1))`: HOF lambdas
      // evaluate interpreted per gram occurrence (~6s of the sf0.1
      // scoring pass was the fold alone, r13-measured); the kernel is
      // the same left-associated sum in array order — bit-identical,
      // and the join-path identity spec pins it.
      df.withColumn("log_weight",
        graft.plans.HashExpressions.lookupSum(bs, lr.toSeq))
    } else {
      // Ratio table as a broadcast frame; per-occurrence join, then a
      // per-doc re-fold over the SORTED collected occurrences so the
      // summation order matches the inline path exactly.
      val spark = df.sparkSession
      import spark.implicits._
      val ratios = broadcast(
        lr.zipWithIndex.map { case (v, b) => (b, v) }.toSeq.toDF("bucket", "lr"))
      val occ = df.select(col(idCol), explode(bs).as("bucket"))
        .join(ratios, Seq("bucket"))
      val folded = occ.groupBy(idCol)
        .agg(aggregate(
          array_sort(collect_list(struct(col("bucket"), col("lr")))),
          lit(0.0), (acc, s) => acc + s.getField("lr")).as("log_weight"))
      df.join(folded, Seq(idCol), "left")
        .withColumn("log_weight", coalesce(col("log_weight"), lit(0.0)))
    }
  }

  /** Exactly-k resample ∝ exp(log_weight) without replacement — the
    * Efraimidis–Spirakis exponential race in log space: with the house
    * 52-bit md5 uniform u, e = −ln(u)/w and ln e = ln(−ln u) − log w is
    * the same race under a monotone map, so the k SMALLEST log-keys win
    * and exp(log w) is never materialized (log weights of ±hundreds of
    * nats are routine for DSIR over long documents). Deterministic in
    * (id, salt), append-stable; cutoff via the Selection descent, ties
    * broken by id — exactly the [[TrainingData.exactSampleWeighted]]
    * contract shifted to log space. Null log-weights never sample.
    * Requires `idCol` unique (the house sampling contract — the race
    * key and the winner recovery are both id-addressed).
    *
    * Cost shape (the r12 fix): `logWeightCol`'s lineage is typically a
    * full corpus hashing pass (every uni+bigram of every document
    * md5-folded), and the count + Selection descent + boundary passes
    * each re-execute their input — run naively that was ~10 corpus
    * re-hashings (57.5s of a 198s bench at sf0.1). So the race runs on
    * a PERSISTED two-column (id, log-key) projection: one
    * materialization pays the hashing once, every descent pass reads
    * the cache, the k winner ids are eagerly localCheckpoint'ed
    * (sample-sized — lineage truncated so the cache can drop), and ONE
    * final broadcast semi-join over the UNFILTERED input recovers the
    * winners' full rows — and since that pass doesn't consume
    * `logWeightCol`, Catalyst prunes the scoring lineage out of it
    * entirely. Net: one scoring scan + one plain recovery scan. At
    * cluster scale, swap the persist for a checkpoint of the same
    * narrow projection to storage; the broadcast hint is explicit
    * because a cached relation's stats are unknown to the join planner.
    */
  def resampleTopK(
      df: DataFrame,
      idCol: String,
      logWeightCol: Column,
      k: Long,
      salt: String = "",
      tailThreshold: Long = 65536): DataFrame = {
    require(k >= 0, s"sample size must be >= 0, got $k")
    if (k == 0) return df.limit(0)
    val h52 = conv(
      substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 13),
      16, 10).cast("long")
    val u = (h52 + 1).cast("double") / 4503599627370496.0
    // No eligibility filter on the keyed scan: a Filter on
    // `logWeightCol` beside a projection that uses it makes Spark
    // evaluate the (expensive) scoring expression TWICE per row —
    // predicate pushdown substitutes the alias straight through the
    // Project (r13-measured: 9.6s vs the 5.1s hashing floor at sf0.1).
    // A null log weight keys to null instead, which every consumer
    // already excludes: Selection ignores null keys by contract, the
    // cutoff comparisons are null-safe, and n counts non-null keys off
    // the cache.
    val keyed = df
      .select(col(idCol).as("__rsk_id"), (log(-log(u)) - logWeightCol).as("__lkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = keyed.filter(col("__lkey").isNotNull).count()
      if (k >= n) return df.filter(logWeightCol.isNotNull)
      val cutoff = Selection.kthSmallest(keyed, "__lkey", k, tailThreshold = tailThreshold)
      val below = keyed.filter(col("__lkey") < cutoff)
      val b = below.count()
      require(k - b <= Int.MaxValue, s"boundary take ${k - b} exceeds Int range")
      val boundary = keyed.filter(col("__lkey") === cutoff)
        .orderBy(col("__rsk_id")).limit((k - b).toInt)
      // Eager: the winner-id frame must survive the finally-unpersist
      // below without re-deriving __lkey from the corpus.
      val winners = below.select("__rsk_id").unionByName(boundary.select("__rsk_id"))
        .localCheckpoint(true)
      // Recovery joins the UNFILTERED input: winners are a subset of
      // the eligible ids by construction, so the isNotNull filter adds
      // nothing — and dropping it lets Catalyst prune `logWeightCol`'s
      // whole lineage out of this pass when the caller doesn't select
      // it (the r13 profile: 5.5s -> scan-cost for q_dsir_sample).
      df.join(broadcast(winners), col(idCol) === col("__rsk_id"), "left_semi")
    } finally keyed.unpersist(blocking = false)
  }
}
