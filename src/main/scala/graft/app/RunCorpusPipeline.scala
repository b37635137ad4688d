package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Chunker, Components, Dedup, TrainingData}

/** End-to-end training-corpus preparation — the LLM-data counterpart of
  * [[RunPipeline]]'s fraud medallion. documents in ->
  *   1. ANNOTATE (bronze): one row-local pass adds quality score,
  *      language ID, dedup fingerprint, PII counts, and the redacted
  *      text. Everything downstream reads the annotations, never
  *      re-derives them.
  *   2. GATE + DEDUP (silver): quality/language/contamination gates,
  *      then exact dedup keeping the lowest doc id per fingerprint.
  *      Gates run BEFORE the dedup shuffle, so rejected documents never
  *      cross the wire. With near dedup on, the exact-dedup pool
  *      lands under `silver_exact` first, so near dedup reads one
  *      parquet scan instead of re-running the gate lineage once per
  *      reference. Exact dedup by `fp` leaves no repeated text, so near
  *      dedup runs the distinct-text MinHash core
  *      ([[graft.operators.Dedup.minHashNearDuplicatesDistinctPresketched]])
  *      and keeps one member per cluster.
  *   3. CHUNK: sliding token windows over the REDACTED text, document
  *      metadata carried through the explode.
  *   4. PACK + WRITE: per-source token-budget shard assignment, written
  *      partitioned by (source, shard) with a loader manifest.
  * Each stage persists to storage and is independently re-runnable —
  * when stage 3 of a 100 TB run dies at hour six, stages 1-2 are not
  * re-paid. The whole flow is the oracle-checked `q_corpus_prep`
  * composition plus the PII/contamination arms.
  */
object RunCorpusPipeline {

  final case class CorpusConfig(
      root: String,
      window: Int = 64,
      stride: Int = 48,
      budgetTokens: Long = 1024L,
      minQuality: Double = 0.5,
      langs: Set[String] = Set("en"),
      maxContamination: Double = 0.2,
      /** Also drop NEAR-duplicates (MinHash -> verified pairs ->
        * transitive clusters -> keep-min) between the exact-dedup and
        * chunking stages, reading the exact-dedup pool landed under
        * `silver_exact`. Exact dedup by `fp` leaves no repeated text, so
        * this runs the distinct-text MinHash core, with no collapse of
        * copies. Off by default: near-dedup is the one stage
        * whose cost is super-linear in candidate density, so it is an
        * explicit opt-in exactly like the reference pipelines it
        * mirrors.
        */
      nearDedup: Boolean = false,
      nearDedupJaccard: Double = 0.5,
      /** Decontaminate via the bloom-sketch row-local scan instead of
        * the exact broadcast gram join — for eval suites too large to
        * broadcast. Conservative: bloom can only over-flag.
        */
      bloomDecontamination: Boolean = false,
      /** Gopher repetition gates (Rae et al. 2021 §A1.1): drop documents
        * whose single most frequent word 2-gram occupies more than
        * `maxTopGramFrac` of all 2-grams, or whose duplicate-3-gram
        * share exceeds `maxRepetition`. 1.0 (the default) disables a
        * gate — both signals are row-local byte kernels, so enabling
        * them adds zero shuffle to the annotate scan.
        */
      maxTopGramFrac: Double = 1.0,
      maxRepetition: Double = 1.0,
      /** Apply the full Gopher §A1.1 rule battery
        * ([[graft.quality.GopherRules.passes]]) as an additional gate.
        * Row-local like the repetition gates — zero extra shuffle in
        * either arm. Off by default: the published thresholds assume
        * web prose and would eat code/table corpora.
        */
      gopherRules: Boolean = false,
      /** Strip corpus-duplicated substring SPANS (ExactSubstr,
        * [[graft.operators.SubstringDedup]]) from the kept documents'
        * redacted text before chunking. Opt-in like near-dedup: the
        * span census is corpus-stateful (one extra gram exchange),
        * unlike the row-local annotate gates.
        */
      stripSpans: Boolean = false,
      stripSpanMinLen: Int = 50,
      /** Strip corpus-duplicated LINES ([[graft.operators.LineDedup]],
        * dropAll mode — the boilerplate/footer pass) from the kept
        * documents' redacted text. Runs BEFORE the span strip when both
        * are on: line-grain is far cheaper and removes the bulk
        * boilerplate, so the gram census only pays for what remains.
        */
      stripLines: Boolean = false,
      /** Surprisal band gate (corpus self-perplexity,
        * [[graft.operators.CorpusStats.surprisal]]): documents
        * whose mean token surprisal falls outside
        * [minSurprisal, maxSurprisal] are gated out — low = degenerate
        * repetition, high = gibberish/OCR noise/wrong tokenizer.
        * Infinite defaults disable the gate; corpus-stateful, so it
        * stays out of the streaming arm like dedup.
        */
      minSurprisal: Double = Double.NegativeInfinity,
      maxSurprisal: Double = Double.PositiveInfinity,
      /** DSIR selection ([[graft.operators.Dsir]], Xie et al. 2023):
        * score documents against STANDING target/raw hashed-gram
        * censuses (CensusStore roots `<dsirCensusRoot>/target` and
        * `/raw`, built by [[graft.operators.Dsir.appendFeatureCensusDelta]])
        * and keep what looks like the target corpus. Two knobs:
        * `dsirMinLogWeight` filters rows under a log-importance floor —
        * row-local against the frozen ratio table, so it runs in BOTH
        * arms (the streaming band applies it per chunk, like the frozen
        * surprisal band); `dsirSampleK` keeps exactly k ∝
        * exp(log weight) — the Selection-descent race is
        * corpus-stateful, so it is BATCH-ONLY like dedup. When either
        * is set the unselected pool lands under `silver_pre_dsir`
        * first (durable, and the selection scan reads parquet instead
        * of re-running the whole gate/dedup/strip lineage twice).
        * Defaults disable the stage.
        */
      dsirCensusRoot: Option[String] = None,
      dsirMinLogWeight: Double = Double.NegativeInfinity,
      dsirSampleK: Long = 0L,
      dsirBuckets: Int = 1024)

  def annotated(cfg: CorpusConfig): String = s"${cfg.root}/annotated"
  def silver(cfg: CorpusConfig): String = s"${cfg.root}/silver"
  def shards(cfg: CorpusConfig): String = s"${cfg.root}/shards"

  /** Writes `df` to `path` as parquet and reads it back, so every later
    * stage plans against one file scan instead of `df`'s lineage.
    */
  private def land(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Numeric chunk uid for shard packing: doc_id * 1000 + chunk_id,
    * GUARDED row-locally (`raise_error`, zero extra jobs) against the
    * two silent-corruption modes of arithmetic key packing — a doc with
    * >= 1000 chunks colliding into a neighbor's uid range, and a
    * hash-derived doc_id overflowing Long. Packing itself only needs a
    * deterministic orderable id, but the numeric form keeps manifest id
    * ranges meaningful to loaders, so it stays — loudly.
    */
  private def packedChunkUid: org.apache.spark.sql.Column =
    when(
      col("chunk_id") >= 1000 ||
        col("doc_id") < 0 || col("doc_id") > 9223372036854775L,
      raise_error(concat(
        lit("chunk_uid pack out of range (needs 0 <= chunk_id < 1000, "),
        lit("0 <= doc_id <= Long.Max/1000): doc_id="), col("doc_id"),
        lit(" chunk_id="), col("chunk_id"))).cast("long"))
      .otherwise(col("doc_id") * 1000L + col("chunk_id"))

  /** Run the full pipeline. `eval` (benchmark texts, column `text`) is
    * broadcast for decontamination when provided — documents whose
    * distinct-gram overlap with the eval set exceeds
    * `maxContamination` are gated out with the quality failures.
    */
  def run(
      spark: SparkSession,
      docs: DataFrame,
      cfg: CorpusConfig,
      eval: Option[DataFrame] = None): Unit = {
    // Fail before any stage lands: a DSIR knob without its censuses is
    // a config error, not something to discover after the annotate scan.
    val dsirOn = cfg.dsirSampleK > 0L || !cfg.dsirMinLogWeight.isNegInfinity
    require(!dsirOn || cfg.dsirCensusRoot.isDefined,
      "run: dsirSampleK/dsirMinLogWeight is set but dsirCensusRoot is None - " +
        "pass the CensusStore root holding /target and /raw feature censuses")

    // Stage 1 — annotate: single scan, row-local, no shuffle. The
    // repetition signals ride the same scan (byte kernels) whether or
    // not their gates are enabled — annotations are the product.
    val ann = land(docs
      .select(Seq(
        col("doc_id"), col("source"), col("text"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.languageId(col("text")).as("lang_pred"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        TextFunctions.topGramFraction(col("text"), 2).as("top_gram_frac"),
        TextFunctions.repetitionRatio(col("text"), 3).as("repetition_ratio"),
        TextFunctions.redactPii(col("text")).as("clean_text")) ++
        TextFunctions.PiiPatterns.map { case (kind, _) =>
          TextFunctions.piiCount(col("text"), kind).as(s"n_pii_${kind.toLowerCase}")
        }: _*), annotated(cfg))

    // Stage 2 — gate + exact dedup.
    val langGate = col("lang_pred").isin(cfg.langs.toSeq: _*)
    val bandGated =
      if (cfg.minSurprisal.isNegInfinity && cfg.maxSurprisal.isPosInfinity) ann
      else {
        val s = graft.operators.CorpusStats
          .surprisal(ann, "doc_id", "text")
          .filter(col("avg_surprisal").between(cfg.minSurprisal, cfg.maxSurprisal))
          .select("doc_id")
        ann.join(s, Seq("doc_id"), "left_semi")
      }
    val gated = bandGated.filter(
      col("quality") >= cfg.minQuality && langGate &&
        col("top_gram_frac") <= cfg.maxTopGramFrac &&
        col("repetition_ratio") <= cfg.maxRepetition &&
        (if (cfg.gopherRules) graft.quality.GopherRules.passes(col("text"))
         else lit(true)))
    val decontaminated = eval match {
      case Some(ev) =>
        // bloomDecontamination trades the exact operator's broadcast
        // gram join for a ~MB sketch + row-local scan — the switch for
        // eval suites whose gram table outgrows a broadcast. Bloom errs
        // only toward flagging, so the kept set can only shrink.
        val flagged =
          if (cfg.bloomDecontamination)
            TrainingData.benchmarkContaminationBloom(
              gated, "doc_id", "text", ev, "text", n = 3,
              flagThreshold = cfg.maxContamination)
          else
            TrainingData.benchmarkContamination(
              gated, "doc_id", "text", ev, "text", n = 3,
              flagThreshold = cfg.maxContamination)
        gated.join(
          flagged.filter(!col("is_contaminated")).select("doc_id"), Seq("doc_id"), "left_semi")
      case None => gated
    }
    val exactDeduped = decontaminated
      .withColumn("_rn", row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("_rn") === 1)
      .drop("_rn")
    // Near dedup references its input several times; landing the pool
    // runs the gate lineage once for all of them. The pool is unique on
    // `fp`, so no text repeats: the distinct-text core gives the pairs
    // Dedup.minHashNearDuplicates would, without its md5 collapse/expand.
    val deduped =
      if (cfg.nearDedup) {
        val pool = land(exactDeduped, s"${cfg.root}/silver_exact")
        Components.keepClusterRepresentatives(pool, "doc_id",
          Dedup.minHashNearDuplicatesDistinctPresketched(pool,
            Dedup.fingerprintIndex(pool, "doc_id", "text").select("id", "sig"),
            "doc_id", "text", minJaccard = cfg.nearDedupJaccard))
      } else exactDeduped
    // Boilerplate passes run on the SURVIVORS' redacted text: whole-doc
    // dedup first (cheapest, removes entire copies), then line-grain
    // strip, then the span pass only pays for what remains.
    val lineStripped =
      if (cfg.stripLines) {
        val clean = graft.operators.LineDedup
          .stripDuplicatedLines(deduped, "doc_id", "clean_text")
        deduped.drop("clean_text").join(clean, Seq("doc_id"))
      } else deduped
    val stripped =
      if (cfg.stripSpans)
        graft.operators.SubstringDedup.stripDuplicatedSpans(
          lineStripped, "doc_id", "clean_text", cfg.stripSpanMinLen)
      else lineStripped

    // Stage 2c — DSIR selection against standing censuses (opt-in).
    // The pool lands first: the selection's scoring + recovery scans
    // then read parquet instead of re-executing the gate/dedup/strip
    // lineage per pass, and the unselected pool is itself a product
    // (re-select with a different target without re-cleaning).
    val selected =
      if (!dsirOn) stripped
      else {
        import graft.operators.Dsir
        val pool = land(stripped, s"${cfg.root}/silver_pre_dsir")
        val root = cfg.dsirCensusRoot.get
        val w = Dsir.importanceWeights(pool, "doc_id", "clean_text",
            Dsir.readFeatureCensus(spark, s"$root/target"),
            Dsir.readFeatureCensus(spark, s"$root/raw"), cfg.dsirBuckets)
          .filter(col("log_weight") >= cfg.dsirMinLogWeight)
        if (cfg.dsirSampleK > 0L)
          Dsir.resampleTopK(w, "doc_id", col("log_weight"), cfg.dsirSampleK,
            salt = "dsir")
        else w
      }
    val silverDocs = land(selected, silver(cfg))

    // Stage 3 + 4 — chunk the redacted text, pack per source, write
    // shard-partitioned data + manifest.
    val chunks = Chunker
      .chunkDocuments(silverDocs, "clean_text", "doc_id",
        cfg.window, cfg.stride, carryCols = Seq("source"))
      .withColumn("chunk_uid", packedChunkUid)
    val packed = TrainingData.packShards(
      chunks, "chunk_uid", "source", col("n_chunk_tokens"), cfg.budgetTokens)
    TrainingData.writeShards(packed, "source", "chunk_uid", shards(cfg))
  }

  /** Streaming arm: watch a directory of document parquet files and run
    * the ROW-LOCAL stages (annotate, quality/language gates, PII scrub,
    * chunking) per micro-batch into the crash-safe compacting sink. The
    * stateful stages stay out by design: exact/near dedup over an
    * unbounded stream means unbounded state — run them batch-side over
    * the sink's output (or use
    * [[graft.streaming.StreamingFeatures.dedupByFingerprint]] when an
    * event-time column exists to watermark on). Output equals the batch
    * pipeline's chunk stage over the same files (CorpusPipelineSpec).
    */
  def runStreaming(
      spark: SparkSession,
      inDir: String,
      cfg: CorpusConfig): org.apache.spark.sql.streaming.StreamingQuery =
    runStreaming(spark, inDir, cfg, None)

  def runStreaming(
      spark: SparkSession,
      inDir: String,
      cfg: CorpusConfig,
      surprisalCensusPath: Option[String]): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = spark.read.parquet(inDir).schema
    runStreaming(
      spark, graft.streaming.FileRecordSource(inDir, schema), cfg, surprisalCensusPath)
  }

  /** Transport-agnostic form: the pipeline consumes a
    * [[graft.streaming.StreamSource]], so the directory watcher above
    * and a Kafka topic ([[graft.streaming.KafkaRecordSource]] — broker
    * config only) feed the IDENTICAL gate -> scrub -> chunk -> sink
    * composition. The envelope decode half is pinned offline by the
    * [[graft.streaming.FileEnvelopeSource]] golden in
    * CorpusPipelineSpec.
    *
    * `surprisalCensusPath`, a [[graft.operators.CensusStore]] token
    * census ([[graft.operators.CorpusStats.tokenCensus]]), applies the
    * min/maxSurprisal band IN the stream. The batch arm's
    * SELF-surprisal is corpus-stateful and stays batch-only, but scoring
    * against a FROZEN census needs no corpus state at all — each
    * micro-batch scores under the standing LM via the sink's per-batch
    * transform hook (a per-doc mean over exploded tokens is a batch
    * aggregation, not an unbounded streaming one). None = band off,
    * composition byte-identical to the pre-census arm.
    */
  def runStreaming(
      spark: SparkSession,
      source: graft.streaming.StreamSource,
      cfg: CorpusConfig,
      surprisalCensusPath: Option[String]): org.apache.spark.sql.streaming.StreamingQuery = {
    // A band configured without a census would silently no-op here while
    // the batch arm applies it (self-surprisal) — fail loudly instead.
    require(surprisalCensusPath.isDefined ||
      (cfg.minSurprisal.isNegInfinity && cfg.maxSurprisal.isPosInfinity),
      "runStreaming: min/maxSurprisal band is set but surprisalCensusPath is None - " +
        "the streaming arm scores against a FROZEN census only; pass the census path " +
        "(CensusStore of tokenCensus) or clear the band")
    // Exactly-k DSIR is corpus-stateful (Selection descent over the
    // whole pool) — batch-only, like dedup. The log-weight FLOOR is
    // row-local against frozen censuses and runs below.
    require(cfg.dsirSampleK == 0L,
      "runStreaming: dsirSampleK is batch-only (corpus-stateful exactly-k); " +
        "use dsirMinLogWeight for the stream-compatible frozen-ratio floor")
    require(cfg.dsirMinLogWeight.isNegInfinity || cfg.dsirCensusRoot.isDefined,
      "runStreaming: dsirMinLogWeight is set but dsirCensusRoot is None - " +
        "pass the CensusStore root holding /target and /raw feature censuses")
    val gated = streamGate(source.load(spark), cfg)
    val chunks = Chunker.chunkDocuments(
      gated, "clean_text", "doc_id", cfg.window, cfg.stride, carryCols = Seq("source"))
    val bandBatch: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      surprisalCensusPath match {
        case Some(path) => chunkBatch => {
          // Band at CHUNK granularity: the chunk is the trainable unit
          // this sink emits, so each chunk's own text scores under the
          // frozen census and out-of-band chunks drop individually — a
          // noisy appendix gates out without losing the clean body of
          // the same document.
          val census = graft.operators.CensusStore.read(
            chunkBatch.sparkSession, path, "tok")
          // Collision-free chunk key: a '#'-joined string, not an
          // arithmetic doc_id*K + chunk_id pack — packing collides for
          // chunk_id >= K and overflows Long for hash-derived doc ids,
          // either of which makes the semi-join keep/drop WRONG chunks.
          val cuid = concat_ws("#",
            col("doc_id").cast("string"), col("chunk_id").cast("string"))
          val keyed = chunkBatch.withColumn("__cuid", cuid)
          val scored = graft.operators.CorpusStats.surprisalAgainstCensus(
            keyed, "__cuid", "chunk_text", Seq(census))
          val keep = scored.filter(
              col("avg_surprisal").between(cfg.minSurprisal, cfg.maxSurprisal))
            .select(col("__cuid"))
          keyed.join(keep, Seq("__cuid"), "left_semi").drop("__cuid")
        }
        case None => identity
      }
    // DSIR log-weight floor at the same chunk granularity: the frozen
    // ratio table makes scoring a row-local fold (zero corpus state),
    // so an off-target appendix chunk drops without losing the
    // on-target body of the same document.
    val dsirBatch: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      if (cfg.dsirMinLogWeight.isNegInfinity) identity
      else chunkBatch => {
        import graft.operators.Dsir
        val root = cfg.dsirCensusRoot.get
        Dsir.importanceWeights(chunkBatch, "doc_id", "chunk_text",
            Dsir.readFeatureCensus(chunkBatch.sparkSession, s"$root/target"),
            Dsir.readFeatureCensus(chunkBatch.sparkSession, s"$root/raw"),
            cfg.dsirBuckets)
          .filter(col("log_weight") >= cfg.dsirMinLogWeight)
          .drop("log_weight")
      }
    graft.streaming.StreamingFeatures.writeCompactingSink(
      chunks, s"${cfg.root}/chunks", s"${cfg.root}/ckpt",
      sortCols = Seq("doc_id", "chunk_id"),
      batchTransform = bandBatch.andThen(dsirBatch))
  }

  /** The row-local gate both streaming arms apply per record: quality,
    * language, top-gram, repetition and (opt-in) Gopher gates, then the
    * PII scrub into `clean_text`.
    */
  private def streamGate(docs: DataFrame, cfg: CorpusConfig): DataFrame =
    docs
      .filter(
        TextFunctions.qualityScore(col("text")) >= cfg.minQuality &&
          TextFunctions.languageId(col("text")).isin(cfg.langs.toSeq: _*) &&
          TextFunctions.topGramFraction(col("text"), 2) <= cfg.maxTopGramFrac &&
          TextFunctions.repetitionRatio(col("text"), 3) <= cfg.maxRepetition &&
          (if (cfg.gopherRules) graft.quality.GopherRules.passes(col("text"))
           else lit(true)))
      .withColumn("clean_text", TextFunctions.redactPii(col("text")))

  /** CLI: runMain graft.app.RunCorpusPipeline <docsParquet> <outRoot> [--stream] */
  def main(args: Array[String]): Unit = {
    val Array(docsPath, outRoot) = args.take(2)
    val spark = graft.core.GraftSession.local(graft.core.GraftSession.cores())
    if (args.contains("--stream")) {
      val q = runStreaming(spark, docsPath, CorpusConfig(root = outRoot))
      q.processAllAvailable() // drain what exists, then exit (CLI form)
      q.stop()
    } else {
      run(spark, spark.read.parquet(docsPath), CorpusConfig(root = outRoot))
    }
    spark.stop()
  }
}
