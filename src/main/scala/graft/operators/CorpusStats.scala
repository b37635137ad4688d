package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level text statistics — signals that need cross-document
  * aggregation (document frequency), unlike the row-local quality
  * functions in [[graft.functions.TextFunctions]]. The reference has no
  * corpus analogue (its text surface is row-local profiling); these are
  * the engine-extension filters a pre-training corpus runs before
  * near-dedup.
  */
object CorpusStats {

  /** Cross-document boilerplate score: for each document, how many of
    * its DISTINCT word n-grams occur in at least `minDf` documents
    * corpus-wide, and that count as a fraction. High `common_frac`
    * flags template/boilerplate pages whose content is shared phrasing
    * rather than original text — the corpus-frequency complement to the
    * intra-document [[graft.functions.TextFunctions.repetitionRatio]].
    *
    * Scale shape: one explode of per-doc distinct grams (~corpus token
    * count rows), a partial-aggregated `groupBy(gram)` for document
    * frequency, a shuffle join back on gram (hot grams — stopword
    * phrases — are exactly the skewed keys AQE's skew-join split
    * handles), and a final `groupBy(doc)`. Every stage is keyed; no
    * driver-side state, no collect.
    *
    * Documents with fewer than n tokens have no grams: they surface
    * with `n_grams = 0` and `common_frac = 0.0` via the left join, not
    * silently dropped.
    */
  def gramDocFrequency(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minDf: Int = 2): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val grams = df.select(
      col(idCol),
      explode(array_distinct(
        graft.functions.TextFunctions.wordNGrams(col(textCol), n))).as("gram"))
    // Grams are distinct within a doc, so count(*) IS document frequency
    // — no countDistinct shuffle needed.
    val freq = grams.groupBy("gram").agg(count(lit(1)).as("dfreq"))
    val perDoc = grams.join(freq, "gram")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("dfreq") >= minDf, 1L).otherwise(0L)).as("n_common"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(
          col("n_common").cast("double") / col("n_grams"), lit(0.0)), 6).as("common_frac"))
  }

  /** Vocabulary rows up to which the unigram census is broadcast onto
    * the token stream. Natural-language vocabularies stay sub-million
    * rows even at 100 TB (Heaps' law), but a pathological "vocabulary"
    * (tokenized binary, URLs, IDs) can exceed executor/driver broadcast
    * limits and fail at runtime; past this bound the join shuffles with
    * AQE skew handling. The row count comes from the one-row aggregate
    * the totals need anyway, so the guard adds no job.
    */
  private[graft] val BroadcastVocabRows: Long = 4000000L

  /** Corpus SELF-PERPLEXITY (CCNet's LM filter scored under the corpus's
    * own counts): per document, the mean surprisal -log2 p(w | history)
    * of its tokens under an order-`order` stupid-backoff n-gram LM
    * (Brants et al. 2007, "Large Language Models in Machine
    * Translation" — the backoff chosen FOR distributed counting: no
    * discount normalization pass, a score is a count ratio or alpha
    * times the next-shorter one) built from `df` itself:
    *   p = c(h w) / c(h)                 the n-gram was seen,
    *     = alpha · (backoff to the (n-1)-gram),
    *   p_uni(w) = c(w) / T               MLE unigram, T = corpus tokens,
    * each token entering the chain at its available history depth
    * (the first token of a document scores the unigram). High =
    * improbable tokens (OCR noise, gibberish, wrong language); low =
    * repetitive boilerplate; the useful corpus lives between, so the
    * score feeds band filters rather than a single threshold. Order 2
    * and 3 are far sharper gibberish/boilerplate separators than the
    * unigram: shuffled word salad keeps its unigram score but loses
    * every bigram. A corpus without tokens scores all zeros.
    *
    * Scale shape: the censuses ([[tokenCensus]], [[gramCensus]]) are
    * map-side combined groupBys, one row per gram; the unigram census
    * broadcasts under [[BroadcastVocabRows]], the n-gram censuses join
    * by key (one row per gram — Zipf-hot grams are what AQE's skew
    * split handles); every token's history is cut from its own row's
    * token array, so nothing is exchanged by doc; the per-doc mean
    * aggregates map-side.
    */
  def surprisal(
      df: DataFrame,
      idCol: String,
      textCol: String,
      order: Int = 1,
      alpha: Double = 0.4): DataFrame =
    surprisal(df, idCol, textCol, order, alpha, BroadcastVocabRows)

  private[graft] def surprisal(
      df: DataFrame,
      idCol: String,
      textCol: String,
      order: Int,
      alpha: Double,
      broadcastRows: Long): DataFrame = {
    require(order >= 1 && order <= 3, s"order must be in [1,3], got $order")
    val uni = tokenCensus(df, textCol)
    val head = uni.agg(sum(col("n")), count(lit(1))).head()
    // sum over an EMPTY census is null, not 0 — a corpus of blank docs
    // must yield all-zero scores, not an NPE at plan time.
    if (head.isNullAt(0) || head.getLong(0) == 0L)
      return df.select(
        col(idCol), lit(0L).as("n_tokens"), lit(0.0).as("avg_surprisal"))
    val total = head.getLong(0).toDouble
    backoffSurprisal(df, idCol, textCol,
      uni +: (2 to order).map(gramCensus(df, textCol, _)), alpha,
      head.getLong(1) <= broadcastRows,
      (a, cu) => weigh(a, cu.cast("double")) / total)
  }

  /** FROZEN-LM surprisal: score `batch` under REFERENCE censuses rather
    * than under the batch itself — the shape CCNet's perplexity filter
    * actually has (a fixed LM scores every incoming document; a
    * document's score does not drift as the batch around it changes).
    * `censuses` = [[tokenCensus]] followed by 0-2 [[gramCensus]]es of
    * orders 2, 3 (CensusStore roots keyed "tok" / "g", merged or
    * [[pruneCensus]]d); their count sets the LM order. The chain is
    * [[surprisal]]'s with two differences:
    *   - add-one-smoothed unigrams with a single OOV bucket,
    *     p_uni(w) = (c(w) + 1) / (T + V + 1) (T census tokens, V census
    *     vocabulary), so unseen tokens get the finite ceiling
    *     -log2(1/(T+V+1)) instead of infinity;
    *   - a token whose preceding token the census never saw has no
    *     context mass to condition on and scores plain p_uni.
    * An empty unigram census fails loudly. Same scale shape as
    * [[surprisal]]: only batch tokens stream through the joins.
    */
  def surprisalAgainstCensus(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      censuses: Seq[DataFrame],
      alpha: Double = 0.4): DataFrame =
    surprisalAgainstCensus(batch, idCol, textCol, censuses, alpha, BroadcastVocabRows)

  private[graft] def surprisalAgainstCensus(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      censuses: Seq[DataFrame],
      alpha: Double,
      broadcastRows: Long): DataFrame = {
    require(censuses.size >= 1 && censuses.size <= 3,
      s"need a token census plus at most two gram censuses, got ${censuses.size}")
    val head = censuses.head.agg(sum(col("n")), count(lit(1))).head()
    require(!head.isNullAt(0) && head.getLong(0) > 0,
      "surprisalAgainstCensus needs a non-empty census - build one with tokenCensus")
    val denom = head.getLong(0).toDouble + head.getLong(1).toDouble + 1.0
    backoffSurprisal(batch, idCol, textCol, censuses, alpha,
      head.getLong(1) <= broadcastRows,
      (a, cu) => weigh(a, (coalesce(cu, lit(0L)) + 1).cast("double") / denom))
  }

  /** `a · x`, with the multiply left out at a = 1 (alpha⁰) so every
    * branch keeps the exact IEEE operation order the oracle replays.
    */
  private def weigh(a: Double, x: Column): Column = if (a == 1.0) x else lit(a) * x

  /** The stupid-backoff chain behind both entries. `censuses(0)` is the
    * (tok, n) unigram census, `censuses(k)` the (g, n) census of order
    * k+1; `unigram(a, c)` is the entry's alpha-weighted unigram
    * probability of a token with census count `c` (null when unseen),
    * a = alpha^k after k backoffs. Level j (1 ≤ j < order) of a token
    * is its j-token history `__h$j` and the (j+1)-gram `__g$j` ending at
    * it, both from the [[histories]] of the token's own row; the
    * ladder takes the deepest level whose gram and history counts are
    * both known and falls back one level per miss, multiplying by
    * alpha each time.
    */
  private def backoffSurprisal(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      censuses: Seq[DataFrame],
      alpha: Double,
      broadcastUni: Boolean,
      unigram: (Double, Column) => Column): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    val order = censuses.size
    val levels = 1 until order
    val ctx = histories(batch, textCol, order - 1, idCol).select(
      col(idCol) +: col("tok") +: levels.flatMap(j => Seq(
        when(col(s"__p$j").isNotNull, spaced(j, 1)).as(s"__h$j"),
        when(col(s"__p$j").isNotNull, spaced(j, 0)).as(s"__g$j"))): _*)
    val uni = if (broadcastUni) broadcast(censuses.head) else censuses.head
    def counts(census: DataFrame, from: String, key: String, as: String): DataFrame =
      census.select(col(from).as(key), col("n").as(as))
    val counted = levels.foldLeft(
        ctx.join(counts(uni, "tok", "tok", "__c0"), Seq("tok"), "left")) { (acc, j) =>
      val history =
        if (j == 1) counts(uni, "tok", "__h1", "__hc1")
        else counts(censuses(j - 1), "g", s"__h$j", s"__hc$j")
      acc
        .join(history, Seq(s"__h$j"), "left")
        .join(counts(censuses(j), "g", s"__g$j", s"__gc$j"), Seq(s"__g$j"), "left")
    }
    def ladder(j: Int, a: Double): Column =
      if (j == 0) unigram(a, col("__c0"))
      else {
        val (g, h) = (col(s"__gc$j"), col(s"__hc$j"))
        when(g.isNotNull && h.isNotNull, weigh(a, g.cast("double")) / h.cast("double"))
          .otherwise(ladder(j - 1, a * alpha))
      }
    // Entry at each token's history depth. A history the census never
    // saw (`__hc1` null) has no mass to condition on and scores the
    // unigram; a self census holds every history, so only a frozen one
    // can miss.
    val p =
      if (order == 1) ladder(0, 1.0)
      else when(col("__hc1").isNull, ladder(0, 1.0)).otherwise(
        (2 until order).foldLeft(ladder(1, 1.0)) { (shallower, j) =>
          when(col(s"__h$j").isNull, shallower).otherwise(ladder(j, 1.0))
        })
    val perDoc = counted.groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), avg(-log2(p)).as("surprisal"))
    batch.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(coalesce(col("surprisal"), lit(0.0)), 6).as("avg_surprisal"))
  }

  /** The unigram census behind both surprisal entries: (tok, n)
    * occurrence counts. Mergeable (counts add — persist and maintain it
    * through [[CensusStore]], exactly like the substring-dedup gram
    * census), so a streaming ingestion scores each batch against the
    * standing corpus without ever rescanning it.
    */
  def tokenCensus(df: DataFrame, textCol: String): DataFrame =
    histories(df, textCol, 0).groupBy("tok").agg(count(lit(1)).as("n"))

  /** Word n-gram census for n >= 2: ("w1 … wn" space-joined, n) counts —
    * the keys of [[graft.functions.TextFunctions.wordNGrams]] —
    * mergeable and CensusStore-persistable (key "g") like
    * [[tokenCensus]]. Row-local: n-grams never span two rows, whatever
    * their doc ids.
    */
  def gramCensus(df: DataFrame, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"gram order must be >= 2 (tokenCensus is the unigram), got $n")
    histories(df, textCol, n - 1)
      .where(col(s"__p${n - 1}").isNotNull)
      .groupBy(spaced(n - 1, 0).as("g")).agg(count(lit(1)).as("n"))
  }

  /** Every token (`tok`) of `df` with the `depth` tokens before it in
    * its own row (`__p1` the previous one; null before the row's
    * start), plus the `keep` columns. One tokenizer pass, one explode,
    * all codegen: no lambda and no exchange.
    */
  private def histories(df: DataFrame, textCol: String, depth: Int, keep: String*): DataFrame = {
    val tokens = graft.functions.TextFunctions.tokens(col(textCol))
    val kept = keep.map(col)
    if (depth == 0) return df.select(kept :+ explode(tokens).as("tok"): _*)
    val (t, i) = (col("__t"), col("__i"))
    df.select(kept :+ tokens.as("__t"): _*)
      // Explode an expression, not the bare column: a bare one gets a
      // non-empty filter inferred, which the optimizer pushes below the
      // projection as a second tokenizer pass.
      .select(kept ++ Seq(t, posexplode(when(size(t) > 0, t)).as(Seq("__i", "tok"))): _*)
      .select(kept ++ (col("tok") +: (1 to depth).map(k =>
        when(i >= k, t.getItem(i - k)).as(s"__p$k"))): _*)
  }

  /** `__p{from}` … `__p{to}` of [[histories]], oldest first and
    * space-joined; `__p0` is the token itself.
    */
  private def spaced(from: Int, to: Int): Column = {
    val parts = (from to to by -1).map(k => if (k == 0) col("tok") else col(s"__p$k"))
    if (parts.size == 1) parts.head else concat_ws(" ", parts: _*)
  }

  /** Per-source DISTRIBUTION DRIFT: KL divergence (bits) of each
    * source's unigram distribution from the whole-corpus distribution —
    * the "which feed changed / which source is distributionally weird"
    * number a corpus dashboard tracks next to the volume metrics. A
    * source of ordinary prose scores near 0; a source that collapsed to
    * boilerplate (or switched language, or started emitting binary
    * junk) spikes. KL(source ‖ corpus) needs no smoothing: every
    * source token is in the corpus by construction, so q > 0 wherever
    * p > 0.
    *
    * Scale shape: one token explode, two map-side-combined censuses
    * (per-source and corpus — the corpus one is vocabulary-sized and
    * joins keyed by token with AQE handling the Zipf-hot stopwords),
    * one per-source fold. No collect, no windows.
    */
  def sourceDivergence(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String): DataFrame = {
    // ONE text explode: the per-source census persists, and the corpus
    // census derives from it (every occurrence belongs to exactly one
    // source, so summing c_st per token IS the corpus count) — the r15
    // plan audit found three full-text passes here (bySrc, corpus, and
    // the total's head()).
    val bySrc = df.select(
        col(sourceCol).as("source"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_st"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val srcTotals = bySrc.groupBy(col("source"))
      .agg(sum(col("c_st")).as("n_s"))
    val corpus = bySrc.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
    val totalRow = corpus.agg(sum(col("c_t"))).head()
    require(!totalRow.isNullAt(0) && totalRow.getLong(0) > 0,
      "sourceDivergence needs a non-empty corpus")
    val total = totalRow.getLong(0).toDouble
    bySrc
      .join(corpus, Seq("tok"))
      .join(srcTotals, Seq("source"))
      .withColumn("__p", col("c_st").cast("double") / col("n_s"))
      .withColumn("__q", col("c_t").cast("double") / total)
      .groupBy(col("source"))
      .agg(
        max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        round(sum(col("__p") * log2(col("__p") / col("__q"))), 6).as("kl_bits"))
  }

  /** Jensen-Shannon divergence of each source's token distribution vs
    * the corpus (Lin 1991) — the SYMMETRIC, bounded-to-[0,1]-bit
    * upgrade of [[sourceDivergence]]'s KL: KL explodes toward ∞ as a
    * source's support diverges and is undefined in the other direction;
    * JSD(P‖Q) = ½KL(P‖M) + ½KL(Q‖M) with M = (P+Q)/2 is finite always
    * and √JSD is a metric — the number to CLUSTER sources by, not just
    * rank them.
    *
    * Closed-form tail so no source needs the full vocabulary: for
    * tokens OUTSIDE the source's support, p = 0 ⇒ m = q/2 ⇒ the Q-side
    * integrand is q·log2(q/(q/2)) = q — so that tail contributes
    * ½·(1 − Σ_{tok∈src} q), a scalar off the source's own join. The
    * per-source work is therefore |source vocab| rows, same as KL.
    *
    * Engine-portable: per-token terms round to 12dp and fold through an
    * EXACT decimal sum (the entropy/HHI staging — never a raw float sum
    * whose order is partition luck), one double assembly at the end.
    */
  def sourceJsDivergence(
      df: DataFrame,
      textCol: String,
      sourceCol: String): DataFrame = {
    // Same one-explode staging as [[sourceDivergence]] (r15 audit).
    val bySrc = df.select(
        col(sourceCol).as("source"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_st"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val srcTotals = bySrc.groupBy(col("source"))
      .agg(sum(col("c_st")).as("n_s"))
    val corpus = bySrc.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
    val totalRow = corpus.agg(sum(col("c_t"))).head()
    require(!totalRow.isNullAt(0) && totalRow.getLong(0) > 0,
      "sourceJsDivergence needs a non-empty corpus")
    val total = totalRow.getLong(0).toDouble
    val dec12 = "decimal(38,12)"
    bySrc
      .join(corpus, Seq("tok"))
      .join(srcTotals, Seq("source"))
      .withColumn("__p", col("c_st").cast("double") / col("n_s"))
      .withColumn("__q", col("c_t").cast("double") / total)
      .withColumn("__m", (col("__p") + col("__q")) / lit(2.0))
      .groupBy(col("source"))
      .agg(
        max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        (sum(round(col("__p") * log2(col("__p") / col("__m")), 12)
          .cast(dec12)).cast("double")).as("__pterm"),
        (sum(round(col("__q") * log2(col("__q") / col("__m")), 12)
          .cast(dec12)).cast("double")).as("__qterm"),
        (sum(round(col("__q"), 12).cast(dec12)).cast("double")).as("__qmass"))
      .select(col("source"), col("n_tokens"), col("vocab_size"),
        round(lit(0.5) * col("__pterm")
          + lit(0.5) * (col("__qterm") + (lit(1.0) - col("__qmass"))), 6)
          .as("js_bits"))
  }

  /** "Fightin' Words" marked tokens per source (Monroe, Colaresi &
    * Quinn 2008): which tokens are OVER-represented in a source vs the
    * rest of the corpus, scored by the log-odds-ratio with an
    * informative Dirichlet prior — the corpus-comparison tool that
    * [[sourceDivergence]]/[[sourceJsDivergence]] summarize to one
    * number and this one itemizes. Raw frequency ratios crown rare
    * typos; the corpus-proportional prior α_w = α0·q_w shrinks
    * low-count tokens toward unmarked, and the variance-normalized z
    * ranks by EVIDENCE of markedness, not effect size alone:
    *
    *   δ_w = ln((y_sw + α_w)/(n_s + α0 − y_sw − α_w))
    *       − ln((y_rw + α_w)/(n_r + α0 − y_rw − α_w))
    *   z_w = δ_w / √(1/(y_sw + α_w) + 1/(y_rw + α_w))
    *
    * (s = the source, r = the rest of the corpus). Emits the top-k
    * most-marked tokens per source by (z desc, token) — deterministic
    * tiebreak; z rounded to 6dp BEFORE ranking so the order replays in
    * SQL. Row-local arithmetic off three bounded censuses (per-source,
    * corpus, totals); the rank window runs per source over vocab-sized
    * rows. At 100 TB: censuses are the existing one-shuffle token
    * counts; nothing here touches raw text twice.
    */
  def markedTokens(
      df: DataFrame,
      textCol: String,
      sourceCol: String,
      topK: Int = 10,
      alpha0: Double = 100.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(alpha0 > 0, s"alpha0 must be > 0, got $alpha0")
    // Same one-explode staging as [[sourceDivergence]] (r15 audit).
    val bySrc = df.select(
        col(sourceCol).as("source"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("y_s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val srcTotals = bySrc.groupBy(col("source"))
      .agg(sum(col("y_s")).as("n_s"))
    val corpus = bySrc.groupBy(col("tok")).agg(sum(col("y_s")).as("c_t"))
    val totalRow = corpus.agg(sum(col("c_t"))).head()
    require(!totalRow.isNullAt(0) && totalRow.getLong(0) > 0,
      "markedTokens needs a non-empty corpus")
    val total = totalRow.getLong(0)
    val alphaW = lit(alpha0) * (col("c_t").cast("double") / lit(total.toDouble))
    val yR = (col("c_t") - col("y_s")).cast("double")
    val nR = (lit(total) - col("n_s")).cast("double")
    // One parenthesized expression: a leading `-` on its own line would
    // parse as a discarded unary statement (semicolon inference).
    val delta = (
      log((col("y_s").cast("double") + col("__aw"))
        / (col("n_s").cast("double") + lit(alpha0) - col("y_s").cast("double") - col("__aw")))
      - log((col("__yr") + col("__aw"))
        / (col("__nr") + lit(alpha0) - col("__yr") - col("__aw"))))
    val scored = bySrc
      .join(corpus, Seq("tok"))
      .join(srcTotals, Seq("source"))
      .withColumn("__aw", alphaW)
      .withColumn("__yr", yR)
      .withColumn("__nr", nR)
      .withColumn("delta", round(delta, 6))
      .withColumn("z", round(delta
        / sqrt(lit(1.0) / (col("y_s").cast("double") + col("__aw"))
          + lit(1.0) / (col("__yr") + col("__aw"))), 6))
    val w = Window.partitionBy("source").orderBy(col("z").desc, col("tok"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("source"), col("rank"), col("tok").as("token"),
        col("y_s").as("n_source"), col("__yr").cast("long").as("n_rest"),
        col("delta"), col("z"))
  }

  /** Cross-source n-gram overlap matrix — corpus forensics: for every
    * ordered source pair, how much of A's DISTINCT gram vocabulary
    * appears in B (containment |G_A ∩ G_B| / |G_A|) plus the symmetric
    * Jaccard. The "which sources copy from which" screen that the
    * per-source divergence numbers can't answer (a mirror site shows up
    * as a high-containment pair; a genuinely distinct source sits near
    * the random-overlap floor).
    *
    * Scale shape: one DISTINCT (source, gram-hash) census (64-bit
    * xxhash grams — 8-byte keys on the wire, the [[Dedup.jaccardPairs]]
    * argument), a self-join on the gram key bounded by per-gram source
    * multiplicity (≤ |sources| per gram, NOT corpus size), and
    * per-source set sizes carried by join — never a doc-level pair
    * table. Emits both orders of each pair (containment is asymmetric);
    * Jaccard repeats symmetrically — by design, so a consumer filters
    * one column without re-deriving the other.
    */
  def sourceOverlap(
      df: DataFrame,
      textCol: String,
      sourceCol: String,
      n: Int = 3): DataFrame = {
    // Persisted: the census feeds the sizes aggregate and BOTH join
    // sides — unpersisted, the full text explode ran four times
    // (r15 plan audit).
    val grams = df.select(
        col(sourceCol).as("source"),
        explode(array_distinct(
          graft.plans.HashExpressions.wordNGramHashes(col(textCol), n))).as("g"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val a = grams.select(col("source").as("source_a"), col("g"))
    val b = grams.select(col("source").as("source_b"), col("g"))
    a.join(b, Seq("g"))
      .filter(col("source_a") =!= col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("source").as("source_a"), col("sz").as("sz_a")),
        Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("sz").as("sz_b")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        col("sz_a"), col("sz_b"), col("n_common"),
        round(col("n_common").cast("double") / col("sz_a"), 6)
          .as("containment_a_in_b"),
        round(col("n_common").cast("double")
          / (col("sz_a") + col("sz_b") - col("n_common")), 6).as("jaccard"))
  }

  /** Zipf's-law fit over the corpus token census (Zipf 1949): OLS of
    * ln(freq) on ln(rank) for the top-N tokens — slope ≈ −1 for
    * natural language; a flat slope flags templated/synthetic text and
    * a cliff flags a tiny effective vocabulary. One row out: the top-N
    * cut, slope, intercept, r² — the corpus-level health check beside
    * [[sourceDivergence]]'s per-source views.
    *
    * Determinism: top-N by (count desc, token asc) — a TOTAL order, so
    * the regression inputs are the same set in any engine; ln products
    * round to 12dp and fold through exact decimal sums (N ≤ 1000 rows,
    * but order-free anyway); the OLS assembly is the [[Anomaly]]
    * trendFit moment form. Scale shape: one token census (the
    * one-shuffle count), a rank window over vocab, then N rows.
    */
  def zipfFit(
      df: DataFrame,
      textCol: String,
      topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN >= 3, s"topN must be >= 3, got $topN")
    val census = df.select(
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("tok"))
    val dec12 = "decimal(38,12)"
    val top = census
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(
        log(col("rank").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    val mom = top.agg(
      count(lit(1)).as("n"),
      sum(round(col("x"), 12).cast(dec12)).cast("double").as("sx"),
      sum(round(col("y"), 12).cast(dec12)).cast("double").as("sy"),
      sum(round(col("x") * col("y"), 12).cast(dec12)).cast("double").as("sxy"),
      sum(round(col("x") * col("x"), 12).cast(dec12)).cast("double").as("sxx"),
      sum(round(col("y") * col("y"), 12).cast(dec12)).cast("double").as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy") - col("sx") * col("sy")
    val den = nD * col("sxx") - col("sx") * col("sx")
    val deny = nD * col("syy") - col("sy") * col("sy")
    mom.select(
      col("n").as("top_n"),
      when(den > 0, round(num / den, 6)).as("slope"),
      when(den > 0,
        round((col("sy") - (num / den) * col("sx")) / nD, 6)).as("intercept"),
      when(den > 0 && deny > 0,
        round((num * num) / (den * deny), 6)).as("r2"))
  }

  /** Heaps'-law vocabulary-growth fit (Heaps 1978) — the companion
    * diagnostic to [[zipfFit]]: distinct vocabulary V grows as K·T^β
    * in corpus tokens T (β ≈ 0.4-0.6 for natural text); β near 1 flags
    * an open-ended/noisy vocabulary (OCR garbage, serial numbers), β
    * near 0 a templated corpus. Fit by OLS of ln(V) on ln(T) over
    * `buckets` doc-id prefixes.
    *
    * Scale shape — NO global window: prefixes are an integer doc-id
    * grid, bucket(doc) = (doc_id − min_id)·buckets ÷ width + 1 (pure
    * integer ops both engines share). Per-bucket token sums and
    * first-occurrence counts (min doc-id per distinct token — ONE
    * census shuffle) cumsum over the `buckets`-row bounded table, and
    * the regression folds 12dp-rounded ln products through exact
    * decimals (the [[zipfFit]] staging). Empty prefixes drop out.
    */
  def heapsFit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 4 && buckets <= 1000, s"buckets in [4,1000], got $buckets")
    val ids = df.agg(min(col(idCol).cast("long")).as("lo"),
      max(col(idCol).cast("long")).as("hi"))
    // Double-floor bucketing mirrored literally by the oracle (exact
    // while (id span)·buckets < 2^53 — the bounded-input posture the
    // rank/tie operators already document).
    val bucketOf = (d: Column) =>
      least(lit(buckets.toLong),
        floor(((d - col("lo")) * buckets).cast("double")
          / (col("hi") - col("lo") + lit(1L)).cast("double")).cast("long")
          + lit(1L))
    // ONE text scan: the (bucket, token) grouped census carries both
    // facts — token volume per bucket (sum of counts) and first
    // occurrence per token (min over buckets of the per-bucket min id).
    // The grouped table is vocab x buckets bounded; persisted for its
    // two consumers (the r15 plan-audit rule).
    val grouped = df.crossJoin(broadcast(ids))
      .select(bucketOf(col(idCol).cast("long")).as("b"),
        col(idCol).cast("long").as("__id"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("b"), col("tok"))
      .agg(count(lit(1)).as("c"), min(col("__id")).as("mid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tokPerBucket = grouped.groupBy(col("b")).agg(sum(col("c")).as("toks"))
    val vocabPerBucket = grouped
      .groupBy(col("tok")).agg(min(col("mid")).as("first_id"))
      .crossJoin(broadcast(ids))
      .groupBy(bucketOf(col("first_id")).as("b"))
      .agg(count(lit(1)).as("newv"))
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = tokPerBucket.join(vocabPerBucket, Seq("b"), "full_outer")
      .select(col("b"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("newv"), lit(0L)).as("newv"))
      .withColumn("t_cum", sum(col("toks")).over(w))
      .withColumn("v_cum", sum(col("newv")).over(w))
      .filter(col("t_cum") > 0 && col("v_cum") > 0)
      .select(log(col("t_cum").cast("double")).as("x"),
        log(col("v_cum").cast("double")).as("y"))
    val dec12 = "decimal(38,12)"
    val mom = pts.agg(
      count(lit(1)).as("n"),
      sum(round(col("x"), 12).cast(dec12)).cast("double").as("sx"),
      sum(round(col("y"), 12).cast(dec12)).cast("double").as("sy"),
      sum(round(col("x") * col("y"), 12).cast(dec12)).cast("double").as("sxy"),
      sum(round(col("x") * col("x"), 12).cast(dec12)).cast("double").as("sxx"),
      sum(round(col("y") * col("y"), 12).cast(dec12)).cast("double").as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy") - col("sx") * col("sy")
    val den = nD * col("sxx") - col("sx") * col("sx")
    val deny = nD * col("syy") - col("sy") * col("sy")
    mom.select(
      col("n").as("n_points"),
      when(den > 0, round(num / den, 6)).as("beta"),
      when(den > 0,
        round((col("sy") - (num / den) * col("sx")) / nD, 6)).as("intercept"),
      when(den > 0 && deny > 0,
        round((num * num) / (den * deny), 6)).as("r2"))
  }

  /** Hapax / unseen-mass report per source (Good 1953): V1/N — the
    * Turing estimate of the probability the NEXT token is unseen — and
    * the hapax ratio V1/V. High unseen mass flags open-vocabulary noise
    * (OCR damage, identifiers, boilerplate churn) that dedup and LM
    * censuses both suffer under; low mass flags templated text. Pure
    * census arithmetic: one token-census shuffle, then per-source
    * integer folds and two exact divisions on counts.
    */
  def hapaxStats(
      df: DataFrame,
      sourceCol: String,
      textCol: String): DataFrame = {
    val census = df.select(col(sourceCol).as("source"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    census.groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        round(col("hapax").cast("double") / col("n_tokens").cast("double"), 6)
          .as("unseen_mass"),
        round(col("hapax").cast("double") / col("vocab").cast("double"), 6)
          .as("hapax_ratio"))
  }

  /** COUNT-THRESHOLD PRUNING for the n-gram LM censuses (the classic
    * count-cutoff of SRILM/Brants-style distributed LMs): drop census
    * rows with `n < minCount`. A pruned n-gram then scores through the
    * BACKOFF branch of the stupid-backoff chain — "seen once" becomes
    * "unseen", alpha·(n-1)-gram — which is exactly the chain's existing
    * unseen semantics, so pruning needs no changes to the scorer: feed
    * the pruned frame to [[surprisalAgainstCensus]] and the left-join
    * miss does the rest.
    *
    * Why it matters at 100 TB: n-gram censuses are Zipf — the singleton
    * tail IS the census. Measured (census rows kept and mean per-doc
    * |Δsurprisal| at each cutoff vs minCount=1, 20k-doc synthetic
    * Zipf(1) corpus over a 50k vocabulary — the tail shape real prose
    * has, which the tiny-vocabulary fixture lacks): minCount=2 keeps
    * 12% of bigram rows (152k of 1.23M) and 2% of trigram rows (39k of
    * 1.86M); minCount=5 keeps 2.6% / 0.3%. The score drift (mean
    * |Δsurprisal| 4.0 bits bigram / 6.8 trigram there) concentrates
    * ENTIRELY on singleton-support n-grams — which an unpruned frozen
    * LM scores at ~0 bits (count ratio 1/1: pure memorization of the
    * census corpus), visible as the synthetic corpus's absurd 2.0-bit
    * trigram mean. Count-cutoff is the standard fix for exactly that
    * overfit (SRILM's default), so the drift is the point, not the
    * price. On the sf0.1 fixture (31-word vocabulary, no tail) pruning
    * at minCount<=5 moves almost nothing: <=0.008 bits drift.
    * Detection-style capping ([[SubstringDedup.capCensus]]) does NOT
    * apply here — LM scoring needs true counts on the rows it keeps;
    * pruning removes rows, never distorts survivors.
    *
    * Keep the UNIGRAM census unpruned: it is vocabulary-sized (small),
    * and it feeds the smoothing denominator and every backoff branch.
    */
  def pruneCensus(census: DataFrame, minCount: Long): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    census.filter(col("n") >= minCount)
  }

  /** PMI collocations (Church & Hanks 1990): adjacent word pairs whose
    * co-occurrence beats chance — pmi = log2( p(w1,w2) / (p(w1)p(w2)) )
    * with p from the corpus's own unigram/bigram censuses. The corpus-
    * analysis view of the same censuses the surprisal LMs read: high-PMI
    * pairs are the multiword units ("San Francisco") a tokenizer or
    * boilerplate report wants surfaced.
    *
    * `minCount` floors the bigram count (PMI explodes on hapax pairs —
    * the classic failure mode, so the floor is mandatory, default 5).
    * Shape: the two census builds (each one explode + count shuffle,
    * vocabulary-sized outputs), then two vocabulary-keyed joins of
    * censuses — no fact-table rescan, no driver state. Counts are
    * integers and the log ratio is rounded 6dp, so any SQL engine
    * replays it exactly.
    */
  def pmiCollocations(
      df: DataFrame,
      textCol: String,
      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val uni = tokenCensus(df, textCol)
    val bi = gramCensus(df, textCol, 2)
    val nTok = uni.agg(sum(col("n")).as("n_tok"))
    val nBi = bi.agg(sum(col("n")).as("n_bi"))
    bi.filter(col("n") >= minCount)
      .select(
        split(col("g"), " ", 2).getItem(0).as("w1"),
        split(col("g"), " ", 2).getItem(1).as("w2"),
        col("n").as("n_pair"))
      .join(uni.select(col("tok").as("w1"), col("n").as("n_w1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("n").as("n_w2")), Seq("w2"))
      .join(broadcast(nTok))
      .join(broadcast(nBi))
      .withColumn("pmi", round(
        log2((col("n_pair") / col("n_bi"))
          / ((col("n_w1") / col("n_tok")) * (col("n_w2") / col("n_tok")))), 6))
      .select("w1", "w2", "n_pair", "n_w1", "n_w2", "pmi")
  }

  /** N-GRAM NOVELTY against a standing census: the fraction of a
    * document's word n-gram OCCURRENCES absent from the census — the
    * RefinedWeb-style "how much of this batch is new text" signal an
    * incremental ingestion reads before paying for dedup (novelty ≈ 0
    * means the doc restates the standing corpus; ≈ 1 means genuinely
    * new material). One explode + left join against the census
    * (broadcast up to [[BroadcastVocabRows]] rows), one keyed
    * re-aggregation; gramless docs report 0 grams / novelty 0.
    * Census = [[tokenCensus]] (n=1) or a [[gramCensus]] (n>=2) — pass
    * the matching n. Exact integer membership, so the
    * DuckDB oracle replays it verbatim (FULL oracle, unlike the
    * bloom-gated variants which can only over-flag).
    */
  def gramNovelty(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      census: DataFrame,
      n: Int = 3): DataFrame =
    gramNovelty(batch, idCol, textCol, census, n, BroadcastVocabRows)

  private[graft] def gramNovelty(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      census: DataFrame,
      n: Int,
      broadcastRows: Long): DataFrame = {
    require(n >= 1, s"gram order must be >= 1, got $n")
    val keyCol = census.columns.head
    val vocabRows = census.count()
    val grams = batch.select(
      col(idCol),
      explode(graft.functions.TextFunctions.wordNGrams(col(textCol), n)).as(keyCol))
    val vocab = if (vocabRows <= broadcastRows) broadcast(census) else census
    val perDoc = grams.join(vocab, Seq(keyCol), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_grams"),
        avg(when(col("n").isNull, 1.0).otherwise(0.0)).as("novelty"))
    batch.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        round(coalesce(col("novelty"), lit(0.0)), 6).as("novelty"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, §4.3): rank
    * every document WITHIN ITS SOURCE by LM surprisal and cut the
    * ranking into `buckets` equal tranches — bucket 1 ("head") is the
    * most LM-like slice, the last ("tail") the least. CCNet trains on
    * head/middle and drops or down-weights tail; the PER-SOURCE ranking
    * is the part that matters, because a global cut would just rank
    * whole sources against each other (Wikipedia would be all head,
    * OCR dumps all tail) instead of separating quality WITHIN each.
    *
    * Bucket k is `rank <= ceil(k*n/buckets)` with rank ordered by
    * (avg_surprisal, doc id) — k-th ORDER STATISTIC boundaries, never
    * an interpolated percentile, so the assignment is bit-reproducible
    * across engines (one IEEE multiply + ceil; the house
    * cross-engine-quantile rule).
    *
    * Scale: the window runs over DOC-SUMMARY rows (one per document —
    * ~1e9 rows for a 100 TB corpus, already thousands of times smaller
    * than the token explode that produced the scores), partitioned by
    * source. For corpora where even that sort is unwelcome or one
    * source dominates the partition, `exact = false` replaces the
    * window with a percentile_approx sketch per source (map-side
    * combined, O(accuracy) state) and a broadcast of the (source,
    * cutoff) table — no per-doc shuffle at all. Boundary documents that
    * share a cutoff value can land one bucket apart vs exact
    * (spec-pinned >= 98% agreement and monotone buckets on the
    * fixture); exact mode is the oracle contract.
    *
    * `census = Some(...)` scores under a FROZEN [[tokenCensus]] LM
    * ([[surprisalAgainstCensus]] — CCNet's actual shape: the bucketing
    * of a batch must not drift with the batch's own contents);
    * `None` self-scores via [[surprisal]].
    */
  def perplexityBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      buckets: Int = 3,
      exact: Boolean = true,
      census: Option[DataFrame] = None): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val scored = census match {
      case Some(c) => surprisalAgainstCensus(df, idCol, textCol, Seq(c))
      case None => surprisal(df, idCol, textCol)
    }
    val withSource = scored.join(
      df.select(col(idCol), col(sourceCol).as("source")), Seq(idCol))
    val labeled: Column => Column = b =>
      if (buckets == 3)
        when(b === 1, "head").when(b === 2, "middle").otherwise("tail")
      else concat(lit("b"), b)
    if (exact) {
      val w = Window.partitionBy("source")
      val rn = row_number()
        .over(w.orderBy(col("avg_surprisal"), col(idCol)))
      val n = count(lit(1)).over(w)
      val ranked = withSource
        .withColumn("__rn", rn).withColumn("__n", n)
      val bucket = (1 until buckets).foldRight(lit(buckets.toLong): Column) {
        case (k, rest) =>
          when(col("__rn") <=
            ceil(col("__n") * k / lit(buckets.toDouble)), k.toLong)
            .otherwise(rest)
      }
      ranked
        .withColumn("bucket", bucket)
        .withColumn("bucket_label", labeled(col("bucket")))
        .drop("__rn", "__n")
    } else {
      // Sketch path: B-1 approximate cutoffs per source, broadcast back.
      val qs = (1 until buckets).map(_ / buckets.toDouble)
      val cuts = withSource.groupBy("source")
        .agg(percentile_approx(
          col("avg_surprisal"),
          array(qs.map(lit): _*), lit(10000)).as("__cuts"))
      val joined = withSource.join(broadcast(cuts), Seq("source"))
      val bucket = lit(1L) + aggregate(
        col("__cuts"), lit(0L),
        (acc, cut) => acc + when(col("avg_surprisal") > cut, 1L).otherwise(0L))
      joined
        .withColumn("bucket", bucket)
        .withColumn("bucket_label", labeled(col("bucket")))
        .drop("__cuts")
    }
  }
}
