package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT duplicated-substring detection and removal — the span-level
  * complement to [[Dedup]]'s whole-document operators. A span of a
  * document is "duplicated" when some length-`minLen` window of it
  * occurs at more than one (doc, offset) site anywhere in the corpus
  * (including elsewhere in the same document). This is the substring
  * dedup used on real LLM corpora (Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better" — their suffix-array
  * ExactSubstr); boilerplate, license headers and templated passages
  * duplicate at span level even when no two documents are near-dups.
  *
  * Spark-first shape instead of a suffix array (which is a single-node
  * construction): every duplicated substring of length >= minLen
  * contains a duplicated minLen-gram, so corpus-wide detection is
  *   1. explode each doc into its minLen-gram start offsets (one
  *      `Generate` + codegen'd `substring`, no shuffle),
  *   2. ONE exchange keyed by gram + a window count marking sites
  *      whose gram occurs more than once — OR, when the corpus's gram
  *      frequencies are skewed, a census aggregate + semi-join (see
  *      [[duplicatedGramSites]] for the measured trade-off and the
  *      sampled probe that picks the formulation automatically),
  *   3. per-doc gaps-and-islands merge of overlapping/adjacent sites
  *      into maximal spans — a window keyed by doc, so state is
  *      bounded by a single document's length.
  *
  * At 100 TB the gram keys are `xxhash64` (8-byte shuffle keys,
  * `hashGrams = true`, the default); a 64-bit collision adds a false
  * site at ~n²/2⁶⁵ probability and never loses a true one. The
  * contract queries run `hashGrams = false` (raw-substring keys) so a
  * SQL oracle replays them exactly; both modes are spec-pinned equal
  * at fixture scale.
  *
  * Reference scope note: the reference pipeline (bronze_ingestion.py,
  * silver_transformations.py) has no text-dedup surface at all — this
  * family is part of the training-data extension layer.
  */
object SubstringDedup {

  /** Default per-gram site count above which the window formulation's
    * single-reducer buffering is considered pathological and the
    * census+join formulation takes over. 256k rows in one WindowExec
    * partition is where spill starts dominating task time; the
    * census+join is only ~2x slower on UNskewed data, so switching a
    * little early is cheap insurance.
    */
  val DefaultHotGramSites: Long = 262144L

  /** Default document fraction the formulation probe samples. */
  val DefaultProbeFrac: Double = 0.02

  /** (doc_id, p, g): every start offset `p` (1-based) of a
    * `minLen`-gram `g` in each document. `g` is the raw substring when
    * `hashGrams` is false, its xxhash64 otherwise.
    */
  private def gramSites(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      hashGrams: Boolean): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val gram = col("__t").substr(col("p0"), lit(minLen))
    df.where(length(col(textCol)) >= minLen)
      .select(
        col(idCol).as("doc_id"),
        col(textCol).as("__t"),
        explode(sequence(lit(1), length(col(textCol)) - minLen + 1)).as("p0"))
      .select(
        col("doc_id"),
        col("p0").cast("long").as("p"),
        (if (hashGrams) xxhash64(gram) else gram).as("g"))
  }

  /** TOKEN-space sibling of [[gramSites]]: (doc_id, p, g) for every
    * 1-based TOKEN offset of a `minTokens`-token window (space-joined
    * form, or its xxhash64).
    */
  private def tokenGramSites(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int,
      hashGrams: Boolean): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val gram = concat_ws(" ", slice(col("__toks"), col("p0"), lit(minTokens)))
    df.select(
        col(idCol).as("doc_id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= minTokens)
      .select(
        col("doc_id"), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - minTokens + 1)).as("p0"))
      .select(
        col("doc_id"),
        col("p0").cast("long").as("p"),
        (if (hashGrams) xxhash64(gram) else gram).as("g"))
  }

  // ------------------------------------------------- formulation choice

  /** Deterministic ~`frac` document sample for the formulation probe —
    * hash bucketing, no RNG, so the same corpus always probes the same
    * docs and a replayed query plans identically.
    */
  private def sampleDocs(df: DataFrame, idCol: String, frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, s"probeFrac must be in (0, 1], got $frac")
    df.where(pmod(xxhash64(col(idCol), lit("substr-skew-probe")), lit(10000L))
      < lit(math.max(1L, math.round(frac * 10000))))
  }

  /** True when the sampled sites contain a gram whose EXTRAPOLATED
    * corpus-wide site count exceeds `hotGramSites`. One tiny job: the
    * sample's per-gram counts aggregate map-side (O(1) state per gram)
    * and only a single max crosses to the driver.
    */
  private def hotGramInSample(
      sites: DataFrame, frac: Double, hotGramSites: Long): Boolean = {
    val m = sites.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head()
    !m.isNullAt(0) && m.getLong(0).toDouble / frac > hotGramSites.toDouble
  }

  /** The formulation the AUTO default would pick for this corpus at
    * char-gram grain — exposed for specs and the ScaleStress harness.
    * True = census+join (skew detected), false = window.
    */
  private[graft] def probePicksCensusJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      probeFrac: Double = DefaultProbeFrac,
      hotGramSites: Long = DefaultHotGramSites): Boolean =
    hotGramInSample(
      gramSites(sampleDocs(df, idCol, probeFrac), idCol, textCol, minLen,
        hashGrams = true),
      probeFrac, hotGramSites)

  /** Resolve a `skewSafe` option: explicit Some wins; None runs the
    * sampled probe over `probeSites` (always hash-keyed — the count
    * histogram is identical and the shuffle keys are 8 bytes).
    */
  private def resolveFormulation(
      skewSafe: Option[Boolean],
      probeSites: => DataFrame,
      probeFrac: Double,
      hotGramSites: Long): Boolean =
    skewSafe.getOrElse(hotGramInSample(probeSites, probeFrac, hotGramSites))

  /** Per-gram duplicated-site filter over a prepared (doc_id, p, g)
    * frame: the two formulations behind every operator in this family.
    *
    * `useCensusJoin = false` (the unskewed default): ONE exchange keyed
    * by gram and a window count over it — every site travels exactly
    * once and there is no second pass over the corpus. Measured at
    * sf0.1 (1.34M sites): 1.8s vs 6.4s for the census-aggregate +
    * broadcast-semi-join shape and 3.7s for its shuffle-join variant —
    * the join shapes pay a whole extra traversal of the gram
    * extraction.
    *
    * `useCensusJoin = true`: census aggregate + shuffle-semi-join, for
    * corpora with PATHOLOGICAL gram skew. `WindowExec` buffers each
    * gram's rows in ONE task before counting (Zipf gram keys are the
    * named single-reducer scale-killer; spill degrades, doesn't
    * distribute), whereas the census aggregate keeps O(1) state per
    * gram under map-side combine and the semi-join's probe side leans
    * on AQE's skew split, which IS join-aware. Both formulations are
    * exact and return identical sites (spec-pinned).
    */
  private def duplicatedSitesOf(
      sites: DataFrame, useCensusJoin: Boolean): DataFrame =
    if (useCensusJoin) {
      val dup = sites.groupBy(col("g"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
        .select(col("g"))
        .hint("shuffle_hash")
      sites.join(dup, Seq("g"), "left_semi").select(col("doc_id"), col("p"))
    } else {
      val w = Window.partitionBy(col("g"))
      sites.withColumn("__n", count(lit(1)).over(w))
        .where(col("__n") > 1)
        .select(col("doc_id"), col("p"))
    }

  /** Sites whose gram occurs at more than one (doc, offset) in the
    * corpus: (doc_id, p).
    *
    * `skewSafe = None` (the default) AUTO-SELECTS the formulation: a
    * deterministic ~`probeFrac` document sample is gram-counted (one
    * tiny extra job), and if any gram extrapolates past `hotGramSites`
    * corpus-wide sites the census+join formulation takes over;
    * otherwise the measured-faster window form runs. Real prose
    * corpora WILL have Zipf-skewed boilerplate grams at 100 TB — the
    * probe makes the safe plan the default instead of an opt-in flag.
    * `Some(false)` forces the window form, `Some(true)` the
    * census+join form (both exact; see [[duplicatedSitesOf]]).
    */
  def duplicatedGramSites(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      hashGrams: Boolean = true,
      skewSafe: Option[Boolean] = None,
      probeFrac: Double = DefaultProbeFrac,
      hotGramSites: Long = DefaultHotGramSites): DataFrame =
    duplicatedSitesOf(
      gramSites(df, idCol, textCol, minLen, hashGrams),
      resolveFormulation(
        skewSafe,
        gramSites(sampleDocs(df, idCol, probeFrac), idCol, textCol, minLen,
          hashGrams = true),
        probeFrac, hotGramSites))

  /** Gaps-and-islands merge of duplicated (doc_id, p) sites into
    * maximal spans — a window keyed by doc, state bounded by one
    * document's site list.
    */
  private def mergeSites(sites: DataFrame, minLen: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    sites
      .withColumn("prev", lag(col("p"), 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("p") - col("prev") > minLen, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min(col("p")).as("span_start"),
        (max(col("p")) + minLen - 1).as("span_end"))
      .select(
        col("doc_id"),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"))
  }

  /** Maximal duplicated spans per document: (doc_id, span_start,
    * span_end, span_len), offsets 1-based inclusive. Two duplicated
    * gram sites merge when their length-`minLen` windows overlap or
    * touch (gap <= minLen), so each output row is a maximal run of
    * text every character of which lies in some duplicated gram.
    * Formulation selection per [[duplicatedGramSites]] (auto by
    * default).
    */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      hashGrams: Boolean = true,
      skewSafe: Option[Boolean] = None,
      probeFrac: Double = DefaultProbeFrac,
      hotGramSites: Long = DefaultHotGramSites): DataFrame =
    mergeSites(
      duplicatedGramSites(df, idCol, textCol, minLen, hashGrams, skewSafe,
        probeFrac, hotGramSites),
      minLen)

  /** TOKEN-level variant of [[duplicatedSpans]]: spans in TOKEN index
    * space (1-based, inclusive), a window of `minTokens` consecutive
    * tokens duplicated when its space-joined form occurs at more than
    * one (doc, offset) site. Prose corpora prefer token windows — a
    * char window weights long words more and can split multi-byte
    * runs; ExactSubstr's published setting is 50 BPE tokens. Same
    * formulation auto-selection and gaps-and-islands merge as the char
    * form (gap > minTokens breaks). Output: (doc_id, span_start,
    * span_end, span_len) in token offsets.
    */
  def duplicatedTokenSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int,
      hashGrams: Boolean = true,
      skewSafe: Option[Boolean] = None,
      probeFrac: Double = DefaultProbeFrac,
      hotGramSites: Long = DefaultHotGramSites): DataFrame = {
    val sites = tokenGramSites(df, idCol, textCol, minTokens, hashGrams)
    val useCensusJoin = resolveFormulation(
      skewSafe,
      tokenGramSites(sampleDocs(df, idCol, probeFrac), idCol, textCol,
        minTokens, hashGrams = true),
      probeFrac, hotGramSites)
    mergeSites(duplicatedSitesOf(sites, useCensusJoin), minTokens)
  }

  // ------------------------------------------------- incremental census

  /** Mergeable gram census — (g, n) site counts per distinct gram —
    * the persisted state for INCREMENTAL span dedup: write it once for
    * the standing corpus, then each new batch probes it instead of
    * re-extracting 100 TB of grams. Only distinct grams cross the wire
    * (map-side partial counts), and the census is ~8 bytes/distinct
    * gram under the default hashed keys.
    */
  def gramCensus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      hashGrams: Boolean = true): DataFrame =
    gramSites(df, idCol, textCol, minLen, hashGrams)
      .groupBy(col("g")).agg(count(lit(1)).as("n"))

  /** TOKEN-space census: (g, n) site counts of `minTokens`-token
    * windows — the token sibling of [[gramCensus]], same monoid merge
    * and [[CensusStore]] persistence.
    */
  def tokenGramCensus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int,
      hashGrams: Boolean = true): DataFrame =
    tokenGramSites(df, idCol, textCol, minTokens, hashGrams)
      .groupBy(col("g")).agg(count(lit(1)).as("n"))

  /** Union of two censuses — counts add. `gramCensus(a union b)` ==
    * `mergeCensus(gramCensus(a), gramCensus(b))` (spec-pinned), so
    * census maintenance is pure monoid folding: no history rescan.
    */
  def mergeCensus(a: DataFrame, b: DataFrame): DataFrame =
    CensusStore.merge(a, b, "g")

  /** Doc-frequency CAP for a persisted gram census: clamp counts at
    * `cap`. Duplication detection reads a census count ONLY through
    * "does batch + census exceed 1 site" ([[duplicatedSitesAgainstCensus]]'s
    * `bn + cn > 1`), so any `cap >= 2` preserves every detection
    * decision EXACTLY — a gram with 10 M sites and one with 2 answer
    * the same question (spec-pinned identity on a fixture with counts
    * far above the cap). What the cap buys at 100 TB:
    *   - storage/scan hygiene: the n column collapses from unbounded
    *     Zipf-tailed longs to {1..cap}, which parquet
    *     dictionary/RLE-encodes to near-zero bits per row;
    *   - merge hygiene: boilerplate grams can never accumulate counts
    *     toward Long overflow across years of appended deltas.
    * Capping commutes with merging — `least(cap, a + b)` equals
    * `least(cap, least(cap, a) + least(cap, b))` for non-negative
    * counts — so capped censuses keep folding through
    * [[mergeCensus]] + capCensus with no drift (homomorphism
    * spec-pinned). Contrast: the LM token censuses
    * ([[CorpusStats.tokenCensus]] and friends) must stay UNCAPPED —
    * surprisal reads true frequencies, not a threshold.
    */
  def capCensus(census: DataFrame, cap: Long = 2L): DataFrame = {
    require(cap >= 2L,
      s"cap must be >= 2 (detection reads counts only as 0/1/2+), got $cap")
    census.withColumn("n", least(col("n"), lit(cap)))
  }

  /** Batch sites duplicated against (census + batch): shared core of
    * the char and token incremental probes.
    *
    * Window formulation: per-gram batch count, then a LEFT join onto
    * the census — the window's output is already hash-partitioned and
    * sorted by g, which is exactly the sort-merge join's requirement on
    * that side, so the sites never shuffle or sort a second time.
    * Census+join formulation: O(1)-state batch census aggregate joined
    * to the standing census, AQE skew split on the site semi-join —
    * the pathological-skew shape, mirroring [[duplicatedSitesOf]].
    */
  private def duplicatedSitesAgainstCensus(
      sites: DataFrame, census: DataFrame, useCensusJoin: Boolean): DataFrame =
    if (useCensusJoin) {
      val batchCounts = sites.groupBy(col("g")).agg(count(lit(1)).as("bn"))
      val dup = batchCounts
        .join(census.select(col("g"), col("n").as("cn")), Seq("g"), "left")
        .where(col("bn") + coalesce(col("cn"), lit(0L)) > 1)
        .select(col("g"))
      sites.join(dup, Seq("g"), "left_semi").select(col("doc_id"), col("p"))
    } else {
      val withBn = sites
        .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("g"))))
      withBn
        .join(census.select(col("g"), col("n").as("__cn")), Seq("g"), "left")
        .where(col("__bn") + coalesce(col("__cn"), lit(0L)) > 1)
        .select(col("doc_id"), col("p"))
    }

  /** Spans of `batch` that are duplicated against the standing corpus
    * summarized by `census` OR within the batch itself: a batch site
    * is duplicated when its gram's total site count (census + batch)
    * exceeds 1. With `census = gramCensus(corpus)` this equals
    * `duplicatedSpans(corpus union batch)` restricted to batch docs
    * (spec-pinned restriction law) — without rescanning the corpus.
    * Formulation auto-selection probes the BATCH (the frame whose
    * sites feed the window; the census contributes one row per gram
    * either way).
    */
  def duplicatedSpansAgainstCensus(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      census: DataFrame,
      minLen: Int,
      hashGrams: Boolean = true,
      skewSafe: Option[Boolean] = None,
      probeFrac: Double = DefaultProbeFrac,
      hotGramSites: Long = DefaultHotGramSites): DataFrame = {
    val sites = gramSites(batch, idCol, textCol, minLen, hashGrams)
    val useCensusJoin = resolveFormulation(
      skewSafe,
      gramSites(sampleDocs(batch, idCol, probeFrac), idCol, textCol, minLen,
        hashGrams = true),
      probeFrac, hotGramSites)
    mergeSites(
      duplicatedSitesAgainstCensus(sites, census, useCensusJoin), minLen)
  }

  /** TOKEN-space incremental probe: spans of `batch` (token offsets)
    * duplicated against a [[tokenGramCensus]] of the standing corpus
    * or within the batch — the token sibling of
    * [[duplicatedSpansAgainstCensus]], same restriction law
    * (spec-pinned).
    */
  def duplicatedTokenSpansAgainstCensus(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      census: DataFrame,
      minTokens: Int,
      hashGrams: Boolean = true,
      skewSafe: Option[Boolean] = None,
      probeFrac: Double = DefaultProbeFrac,
      hotGramSites: Long = DefaultHotGramSites): DataFrame = {
    val sites = tokenGramSites(batch, idCol, textCol, minTokens, hashGrams)
    val useCensusJoin = resolveFormulation(
      skewSafe,
      tokenGramSites(sampleDocs(batch, idCol, probeFrac), idCol, textCol,
        minTokens, hashGrams = true),
      probeFrac, hotGramSites)
    mergeSites(
      duplicatedSitesAgainstCensus(sites, census, useCensusJoin), minTokens)
  }

  /** Per-source corpus-health rollup: how much of each source is
    * span-duplicated. (source, n_docs, docs_with_dups, n_spans,
    * dup_chars, total_chars, dup_frac).
    */
  def duplicationStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      minLen: Int,
      hashGrams: Boolean = true,
      skewSafe: Option[Boolean] = None): DataFrame = {
    val perDoc = duplicatedSpans(df, idCol, textCol, minLen, hashGrams, skewSafe)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("dup_chars"))
    df.select(
        col(idCol).as("doc_id"),
        col(sourceCol).as("source"),
        length(col(textCol)).cast("long").as("len"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("n_spans")).as("docs_with_dups"),
        coalesce(sum(col("n_spans")), lit(0L)).as("n_spans"),
        coalesce(sum(col("dup_chars")), lit(0L)).as("dup_chars"),
        sum(col("len")).as("total_chars"))
      .withColumn("dup_frac",
        round(col("dup_chars").cast("double") / col("total_chars"), 6))
  }

  /** Remove every duplicated span, keeping the non-duplicated
    * remainder in order: the input frame with `textCol` replaced by
    * the cleaned text. Documents with no duplicated span (and those
    * shorter than `minLen`) pass through unchanged.
    *
    * The rebuild is declarative: spans collect per doc (state bounded
    * by doc_len / minLen), join back on the doc key, and a
    * higher-order `aggregate` walks the sorted spans with a (cursor,
    * acc) state appending each kept gap — no UDF, no driver state.
    * Removing all copies (rather than all-but-one) is deliberate and
    * matches ExactSubstr's published setting: a span that recurs
    * verbatim is boilerplate, and electing a canonical keeper site
    * would force a second global shuffle for no training-value gain.
    */
  def stripDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      hashGrams: Boolean = true,
      skewSafe: Option[Boolean] = None): DataFrame =
    stripSpans(df, idCol, textCol,
      duplicatedSpans(df, idCol, textCol, minLen, hashGrams, skewSafe))

  /** Remove the given (doc_id, span_start, span_end) CHAR spans from
    * `textCol`, keeping the remainder in order — the declarative
    * (cursor, acc) rebuild shared by [[stripDuplicatedSpans]] and
    * [[stripContaminatedSpans]]. Docs with no span pass through
    * byte-identical.
    */
  private def stripSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanRows: DataFrame): DataFrame = {
    require(!df.columns.contains("__spans"),
      "stripSpans reserves the __spans column name")
    val spans = spanRows
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("__spans"))
    val joined = df.join(spans, df(idCol) === spans("doc_id"), "left")
    val rebuilt = aggregate(
      col("__spans"),
      struct(lit(1L).as("cur"), lit("").as("acc")),
      (st, sp) => struct(
        (sp.getField("e") + 1L).as("cur"),
        concat(
          st.getField("acc"),
          col(textCol).substr(
            st.getField("cur").cast("int"),
            (sp.getField("s") - st.getField("cur")).cast("int"))).as("acc")),
      st => concat(
        st.getField("acc"),
        col(textCol).substr(
          st.getField("cur").cast("int"),
          (length(col(textCol)) - st.getField("cur") + 1L).cast("int"))))
    joined
      .withColumn(textCol,
        when(col("__spans").isNull, col(textCol)).otherwise(rebuilt))
      .drop("__spans").drop(spans("doc_id"))
  }

  // --------------------------------------------- span decontamination

  /** SPAN-LEVEL DECONTAMINATION detector: maximal spans of `corpus`
    * documents that verbatim-share a length-`minLen` window with ANY
    * eval document. The doc-grain gate
    * ([[TrainingData.benchmarkContamination]]) flags whole documents by
    * n-gram overlap fraction; at span grain a mostly-clean document
    * KEEPS its clean text and loses exactly the leaked benchmark
    * passage — the published GPT-3/PaLM-style decontamination shape.
    *
    * Scale shape: the eval side is small by contract, so its distinct
    * gram set joins as the build side of one semi-join over the corpus
    * gram explode (AQE broadcasts it at runtime when it fits — not
    * forced, an eval suite of raw 30-char grams can out-size a forced
    * broadcast); no window, no census, no second corpus pass. Corpus
    * rows whose doc shares nothing with eval never leave their
    * partition after the semi-join probe.
    */
  def contaminatedSpans(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalTextCol: String,
      minLen: Int,
      hashGrams: Boolean = true): DataFrame = {
    val evalGrams = gramSites(
        eval.select(lit(0L).as("__eid"), col(evalTextCol)),
        "__eid", evalTextCol, minLen, hashGrams)
      .select(col("g")).distinct()
    val sites = gramSites(corpus, idCol, textCol, minLen, hashGrams)
      .join(evalGrams, Seq("g"), "left_semi")
      .select(col("doc_id"), col("p"))
    mergeSites(sites, minLen)
  }

  /** Strip every eval-overlapping span from the corpus: the input frame
    * with `textCol` replaced by the decontaminated text (docs sharing
    * nothing with eval pass through byte-identical). Composes
    * [[contaminatedSpans]] with the shared span rebuild.
    */
  def stripContaminatedSpans(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalTextCol: String,
      minLen: Int,
      hashGrams: Boolean = true): DataFrame =
    stripSpans(corpus, idCol, textCol,
      contaminatedSpans(corpus, idCol, textCol, eval, evalTextCol, minLen, hashGrams))

  /** [[contaminatedSpans]] against a PERSISTED eval gram census — build
    * it once per eval suite with [[gramCensus]] over the eval docs and
    * maintain it through [[CensusStore]] (counts are irrelevant here,
    * but the census monoid gives append-as-benchmarks-land and the
    * fold-watermark replay safety for free), then every ingested batch
    * probes the store instead of re-extracting the eval suite. Equals
    * [[contaminatedSpans]] with the eval frame directly (spec-pinned;
    * q_contamination_spans_incr replays it as a full oracle).
    */
  def contaminatedSpansAgainstCensus(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      evalCensus: DataFrame,
      minLen: Int,
      hashGrams: Boolean = true): DataFrame =
    mergeSites(
      gramSites(corpus, idCol, textCol, minLen, hashGrams)
        .join(evalCensus.select(col("g")), Seq("g"), "left_semi")
        .select(col("doc_id"), col("p")),
      minLen)

  /** TOKEN-space strip: remove every duplicated TOKEN span and replace
    * `textCol` with the space-joined kept tokens, in order. Documents
    * with no duplicated span keep their ORIGINAL text byte-for-byte
    * (no re-tokenization damage on the clean majority); only span-
    * bearing docs are rebuilt in token space — the canonicalization
    * ExactSubstr's token-grain strip implies, documented here because
    * inter-token whitespace inside rebuilt docs collapses to single
    * spaces.
    *
    * Same declarative shape as the char strip: spans collect per doc,
    * join back, and a higher-order `aggregate` slices the kept token
    * ranges with a (cursor, acc) state — no UDF, no second
    * tokenization pass per span.
    */
  def stripDuplicatedTokenSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int,
      hashGrams: Boolean = true,
      skewSafe: Option[Boolean] = None): DataFrame = {
    require(!df.columns.contains("__spans") && !df.columns.contains("__toks"),
      "stripDuplicatedTokenSpans reserves the __spans/__toks column names")
    val spans = duplicatedTokenSpans(df, idCol, textCol, minTokens, hashGrams, skewSafe)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("__spans"))
    val joined = df
      .withColumn("__toks", graft.functions.TextFunctions.tokens(col(textCol)))
      .join(spans, df(idCol) === spans("doc_id"), "left")
    val kept = aggregate(
      col("__spans"),
      struct(lit(1L).as("cur"), array().cast("array<string>").as("acc")),
      (st, sp) => struct(
        (sp.getField("e") + 1L).as("cur"),
        concat(
          st.getField("acc"),
          slice(
            col("__toks"),
            st.getField("cur").cast("int"),
            (sp.getField("s") - st.getField("cur")).cast("int"))).as("acc")),
      st => concat_ws(" ", concat(
        st.getField("acc"),
        slice(
          col("__toks"),
          st.getField("cur").cast("int"),
          (size(col("__toks")) - st.getField("cur") + 1L).cast("int")))))
    joined
      .withColumn(textCol,
        when(col("__spans").isNull, col(textCol)).otherwise(kept))
      .drop("__spans", "__toks").drop(spans("doc_id"))
  }
}
