package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.MinHashUnionAgg.matchingSlots

/** Deduplication operators for training-data pipelines: exact (hash),
  * n-gram Jaccard (exhaustive), MinHash+LSH (approximate, scale path),
  * SimHash (hamming), embedding cosine near-dup.
  *
  * Scale design: every variant is a hash-partitioned groupBy/join on a
  * content-derived key — no driver-side state, no collect. The exhaustive
  * Jaccard self-join is the correctness oracle; MinHash banding is the
  * 100 TB path (candidate count scales with true-duplicate density, not
  * with the square of the corpus).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups keyed by md5 of raw text: (hash, keeper id =
    * min id, copy count). Deterministic keeper selection — unlike
    * `dropDuplicates`, which keeps an arbitrary row per key.
    */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Keep exactly one row (the min-id row) per distinct text. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val groups = exactDuplicateGroups(df, idCol, textCol)
      .select(col("content_hash"), col("keeper_id"))
    df.withColumn("content_hash", md5(col(textCol)))
      .join(groups, "content_hash")
      .filter(col(idCol) === col("keeper_id"))
      .drop("content_hash", "keeper_id")
  }

  /** QUALITY-AWARE keep policy: one row per duplicate group — the
    * group being any caller-chosen key expression (raw `md5(text)` for
    * byte-exact groups, [[graft.functions.TextFunctions.fingerprint]]
    * for case/whitespace-equal groups, `fingerprintAggressive` for
    * CCNet-normalized groups) — keeping the member with the HIGHEST
    * `score` (longest copy, best quality score, freshest crawl...)
    * instead of the min id. Min-id keep ([[dropExactDuplicates]]) is
    * the right default for byte-exact copies where members are
    * interchangeable; under a NORMALIZING key they are not — the
    * truncated/shouting variant may win the id race while the clean
    * full-length copy dies. Ties (equal score) fall back to min id, so
    * the keeper stays fully deterministic.
    *
    * Scale shape: one map-side-combined `max(struct(score, -id))`
    * aggregate per group key and a semi filter back — NO per-key
    * window, so a pathological million-copy group costs a combiner
    * tree, not a single reducer. The id must be numeric (the struct
    * max negates it for the tie-break).
    */
  def dropDuplicatesKeepBest(
      df: DataFrame,
      idCol: String,
      key: org.apache.spark.sql.Column,
      score: org.apache.spark.sql.Column): DataFrame = {
    val keyed = df.withColumn("__k", key).withColumn("__s", score)
    val keepers = keyed
      .groupBy(col("__k"))
      .agg(max(struct(col("__s").as("s"),
        (-col(idCol).cast("long")).as("nid"))).as("__b"))
      .select(col("__k"), (-col("__b.nid")).as("__keep"))
    keyed.join(keepers, Seq("__k"))
      .filter(col(idCol).cast("long") === col("__keep"))
      .drop("__k", "__s", "__keep")
  }

  // ------------------------------------------------------ n-gram Jaccard

  /** Exact pairwise Jaccard over word n-gram sets: pairs (id_a < id_b)
    * with similarity >= minJaccard. Output: id_a, id_b, n_common, jaccard.
    *
    * Two shuffles total: the gram equi-join and the per-pair count. The
    * gram set is built row-local (`array_distinct` over 64-bit gram
    * hashes — no distinct shuffle, 8-byte keys instead of strings on the
    * wire) and each row carries its own set size, so no separate sizes
    * aggregation or post-join size lookups. Hash collisions would need
    * two distinct grams of one doc pair to share an xxhash64 value
    * (P ~ |grams|^2 / 2^64 — negligible); results are otherwise identical
    * to string-gram Jaccard. Measured faster than the prefix-filtered
    * variant on corpora with small shared vocabularies; see
    * [[jaccardPairsPrefixFiltered]] for the boilerplate-heavy/hot-shingle
    * case. For corpora too large for either exact form,
    * [[minHashNearDuplicates]] is the scale path. At sf0.001 a warm run
    * (0.57 s, 4-core VM) costs no more than tokenizing and exploding the
    * same documents alone (0.63 s): the wall there is scheduling floor.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    val exploded = df.select(
        col(idCol).as("id"),
        array_distinct(graft.plans.HashExpressions.wordNGramHashes(col(textCol), n)).as("grams"))
      .select(col("id"), size(col("grams")).as("sz"), explode(col("grams")).as("gram"))
    val a = exploded.select(col("id").as("id_a"), col("sz").as("sz_a"), col("gram"))
    val b = exploded.select(col("id").as("id_b"), col("sz").as("sz_b"), col("gram"))
    a.join(b, "gram")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", col("n_common") / (col("sz_a") + col("sz_b") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  /** Directed n-gram CONTAINMENT pairs: C(a in b) = |A ∩ B| / |A| — the
    * asymmetric near-dup measure Jaccard misses when lengths differ: a
    * paragraph quoted verbatim inside a much longer page has tiny
    * Jaccard (the union is huge) but containment ~1. Broder (1997)
    * distinguishes exactly these as resemblance vs containment. Emits
    * BOTH directions (id_a != id_b) with containment-of-a-in-b, since
    * the relation is not symmetric; "drop the contained doc" policies
    * filter on id_a being the smaller gram set.
    *
    * Same two-shuffle shape and row-local hashed-gram build as
    * [[jaccardPairs]] (one gram equi-join + one per-pair count);
    * containment >= jaccard always, so a containment threshold prunes
    * NO pair that a jaccard run at the same threshold would keep — the
    * candidate space is the same join, only the final filter differs.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minContainment: Double = 0.5): DataFrame = {
    val exploded = df.select(
        col(idCol).as("id"),
        array_distinct(graft.plans.HashExpressions.wordNGramHashes(col(textCol), n)).as("grams"))
      .select(col("id"), size(col("grams")).as("sz"), explode(col("grams")).as("gram"))
    val a = exploded.select(col("id").as("id_a"), col("sz").as("sz_a"), col("gram"))
    val b = exploded.select(col("id").as("id_b"), col("gram"))
    a.join(b, "gram")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b", "sz_a")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("containment", col("n_common") / col("sz_a"))
      .filter(col("containment") >= minContainment)
      .select("id_a", "id_b", "n_common", "containment")
  }

  /** PPJoin-style prefix-filtered exact Jaccard (Xiao et al., WWW'08):
    * a pair at jaccard >= t must share a gram among each doc's first
    * (|g| - ceil(t*|g|) + 1) grams under a global df-ascending order, so
    * the candidate join touches only rare prefix grams and candidates are
    * verified exactly afterwards. Zero false negatives — identical output
    * to [[jaccardPairs]]. Wins when hot shingles (boilerplate headers,
    * templates) would otherwise quadratically blow up the self-join;
    * loses on small-vocabulary corpora where nothing is rare.
    */
  def jaccardPairsPrefixFiltered(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Same row-local hashed-gram form as [[jaccardPairs]]: no distinct
    // shuffle, 8-byte keys, sizes carried on every row.
    val grams = df.select(
        col(idCol).as("id"),
        array_distinct(graft.plans.HashExpressions.wordNGramHashes(col(textCol), n)).as("gs"))
      .select(col("id"), size(col("gs")).as("sz"), explode(col("gs")).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Global df-ascending order; ties broken by gram hash for determinism.
    val gramDf = grams.groupBy("gram").agg(count(lit(1)).as("gdf"))
    val ranked = grams.join(gramDf, "gram")
      .withColumn("rank", row_number().over(
        Window.partitionBy("id").orderBy(col("gdf"), col("gram"))))
      .filter(col("rank") <= col("sz") - ceil(col("sz") * minJaccard) + 1)

    val a = ranked.select(col("id").as("id_a"), col("gram"), col("sz").as("sz_a"))
    val b = ranked.select(col("id").as("id_b"), col("gram").as("gram_b"), col("sz").as("sz_b"))
    val cands = a.join(b, col("gram") === col("gram_b") && col("id_a") < col("id_b"))
      // size-compatibility: jaccard <= min(sz)/max(sz), so prune pairs
      // whose sizes alone cap similarity below the threshold.
      .filter(col("sz_b") >= col("sz_a") * minJaccard &&
        col("sz_a") >= col("sz_b") * minJaccard)
      .select("id_a", "id_b").distinct()

    // Exact verification over candidates only, sizes carried through.
    val fullA = grams.select(col("id").as("id_a"), col("sz").as("sz_a"), col("gram"))
    val fullB = grams.select(col("id").as("id_b2"), col("sz").as("sz_b"), col("gram").as("gram_b"))
    cands.join(fullA, "id_a")
      .join(fullB, col("id_b") === col("id_b2") && col("gram") === col("gram_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", col("n_common") / (col("sz_a") + col("sz_b") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  // ------------------------------------------------------- MinHash + LSH

  /** MinHash signature column (array<bigint> of length numHashes) over the
    * document's word-n-gram set. O(numHashes x |grams|) per row, no
    * shuffle, no UDF: gram hashing stays in codegen'd built-ins
    * (`hash` inside `transform`), the permutation minima run in the
    * custom `MinHashSignatureExpr` primitive loop (the equivalent
    * `aggregate` fold allocates a boxed accumulator array per gram —
    * measured ~1 ms/doc, ~50x slower).
    */
  def minHashSignature(textCol: Column, n: Int, numHashes: Int, seed: Long): Column =
    graft.plans.HashExpressions.minHashFromText(textCol, n, numHashes, seed)

  /** LSH banding: explode each signature into (band index, band hash) keys
    * and self-join — two documents collide if any band matches. With r
    * rows/band and b bands, P(collide) = 1-(1-j^r)^b: the (b, r) choice
    * sets the similarity threshold the join "searches" for.
    * Output: id_a, id_b candidate pairs (distinct).
    */
  private[graft] def minHashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L): DataFrame =
    bandCollisions(
      fingerprintIndex(df, idCol, textCol, n, numHashes, seed).select(col("id"), col("sig")),
      numHashes, bands)

  /** The seeded band table: (bid, band, band_hash) keys derived
    * row-locally from signature array slices — no text, no re-sketch.
    * Docs with < n tokens have an empty gram set and the identity
    * signature (all Long.MaxValue); they are excluded, or every such doc
    * would band-collide with every other one, an O(tiny-docs^2) explosion.
    */
  private def sigBandTable(
      src: DataFrame, id: Column, sig: Column, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    src.filter(element_at(sig, 1) =!= Long.MaxValue)
      .select(id.as("bid"), sig.as("bsig"))
      .select(col("bid"), posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("bsig"), b * lit(r) + lit(1), lit(r))))).as(Seq("band", "band_hash")))
  }

  /** Distinct candidate pairs (id_a < id_b) of `sigs` (id, sig) rows that
    * share a band. Both sides of the collision self-join are the SAME
    * plan (aliased, not re-projected), so their shuffle exchanges
    * canonicalize identically and ReuseExchange materializes the band
    * table once — signatures are computed a single time with no persist
    * barrier and no executor cache footprint (persisting an exploded band
    * table is exactly the kind of cluster-wide cache you don't want at
    * 100 TB).
    */
  private def bandCollisions(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val banded = sigBandTable(sigs, col("id"), col("sig"), numHashes, bands)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash"))
      .filter(col("a.bid") < col("b.bid"))
      .select(col("a.bid").as("id_a"), col("b.bid").as("id_b"))
      .distinct()
  }

  /** MinHash LSH candidates verified with exact n-gram Jaccard — the full
    * near-dedup operator: LSH prunes the pair space, the verify join
    * removes false positives. (False negatives are the documented LSH
    * trade-off; tune bands/numHashes for the target threshold.)
    *
    * The collapse is for inputs that contain copies: exact copies are
    * collapsed to one keeper per content hash BEFORE
    * sketching and the pair set is expanded algebraically afterwards —
    * identical texts have identical signatures and gram sets, so
    * within-group pairs always band-collide and score jaccard 1.0, and
    * every member of group A pairs with every member of group B exactly
    * when the keepers do: output is provably identical to running the
    * sketch on the raw corpus, while candidate verification scales with
    * DISTINCT-text near-dup density (copy-dense stress at 250k docs:
    * 507s raw -> seconds collapsed). Candidate volume on the sf0.1
    * documents at 32 hashes x 16 bands, minJaccard 0.2: 80k band rows,
    * 5,646 band collisions, 2,045 distinct candidates, 256 verified
    * pairs — as many as exhaustive [[jaccardPairs]] finds there. On
    * text-distinct input every content-hash group is a singleton and the
    * collapse/expand only reproduces its input pairs; run
    * [[minHashNearDuplicatesDistinctPresketched]] there instead.
    */
  def minHashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      seed: Long = 42L): DataFrame = {
    // Not persisted: (id, md5) is a two-column pushed-down scan +
    // codegen'd hash — recomputing it per use is cheaper than a
    // materialization barrier here and a cluster-wide cache at scale.
    val members = df.select(col(idCol).as("__mid"), md5(col(textCol)).as("__ghash"))
    val keepers = members.groupBy("__ghash")
      .agg(min(col("__mid")).as("__kid"), count(lit(1)).as("__gn"))
    val keeperDocs = df.join(
      keepers.select(col("__kid").as(idCol)), Seq(idCol), "left_semi")

    val keeperPairs = minHashNearDuplicatesDistinctPresketched(keeperDocs,
      fingerprintIndex(keeperDocs, idCol, textCol, n, numHashes, seed).select(col("id"), col("sig")),
      idCol, textCol, n, numHashes, bands, minJaccard)

    // Cross-group expansion: every member of A x every member of B,
    // reordered so id_a < id_b.
    val kToG = keepers.select(col("__kid"), col("__ghash"))
    val cross = keeperPairs
      .join(kToG.select(col("__kid").as("id_a"), col("__ghash").as("__ga")), "id_a")
      .join(kToG.select(col("__kid").as("id_b"), col("__ghash").as("__gb")), "id_b")
      .join(members.select(col("__mid").as("__ma"), col("__ghash").as("__ga")), "__ga")
      .join(members.select(col("__mid").as("__mb"), col("__ghash").as("__gb")), "__gb")
      .select(
        least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"),
        col("jaccard"))

    // Within-group pairs: exact copies, jaccard 1.0 — but only for
    // groups whose text has >= n tokens (an empty gram set never enters
    // banding on the raw corpus, so its copies must not pair here).
    // __gn > 1 first and as its own filter: only multi-copy groups (rare)
    // pay the re-shingling size check, not every keeper row.
    val eligible = df.join(
        keepers.filter(col("__gn") > 1)
          .select(col("__kid").as(idCol), col("__ghash")), Seq(idCol))
      .filter(size(graft.plans.HashExpressions.wordNGramHashes(col(textCol), n)) > 0)
      .select(col("__ghash"))
    val within = members.join(eligible, "__ghash")
      .select(col("__ghash"), col("__mid").as("__ma"))
      .join(members.select(col("__ghash"), col("__mid").as("__mb")), "__ghash")
      .filter(col("__ma") < col("__mb"))
      .select(col("__ma").as("id_a"), col("__mb").as("id_b"), lit(1.0).as("jaccard"))

    cross.unionByName(within)
  }

  /** Exact n-gram-Jaccard verification of an LSH candidate pair set.
    * Semi-join prunes the corpus to the docs LSH surfaced before
    * re-shingling — candidate volume scales with true-duplicate
    * density, so at 100 TB this is the difference between verifying
    * millions of rows and re-exploding the whole corpus. Row-local gram
    * sets with carried sizes (same shape as [[jaccardPairs]]): no
    * distinct shuffle, no sizes joins; re-shingling the pruned docs for
    * each verify side is linear CPU on candidate volume — cheaper than
    * caching an exploded gram table.
    */
  private def verifyPairsExactJaccard(
      cands: DataFrame, /* id_a, id_b */
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minJaccard: Double): DataFrame = {
    val candDocs = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol)))
      .distinct()
    val pruned = df.join(candDocs, Seq(idCol), "left_semi")
    val grams = pruned.select(
        col(idCol).as("id"),
        array_distinct(graft.plans.HashExpressions.wordNGramHashes(col(textCol), n)).as("gs"))
      .select(col("id"), size(col("gs")).as("sz"), explode(col("gs")).as("gram"))
    val a = grams.select(col("id").as("id_a"), col("sz").as("sz_a"), col("gram"))
    val b = grams.select(col("id").as("id_b2"), col("sz").as("sz_b"), col("gram").as("gram_b"))
    cands.join(a, "id_a")
      .join(b, col("id_b") === col("id_b2") && col("gram") === col("gram_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", col("n_common") / (col("sz_a") + col("sz_b") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** The sketch pipeline proper for DISTINCT-TEXT input: band
    * collisions of the presketched `sigs`, exact-Jaccard verify over the
    * candidate docs. Text is touched only by the verify, so a caller that
    * already exact-deduped skips the collapse/expand bookkeeping of
    * [[minHashNearDuplicates]] entirely: the ingestion step (which
    * sketched its batch for the index) and the batch pipeline
    * ([[graft.app.RunCorpusPipeline]], whose pool is unique on `fp`).
    * The candidate table is used three times (both prune sides + the
    * verify join); its distinct's shuffle exchange canonicalizes
    * identically across the uses, so ReuseExchange runs the banding
    * subtree once — no persist barrier needed.
    */
  def minHashNearDuplicatesDistinctPresketched(
      df: DataFrame,
      sigs: DataFrame, /* id, sig */
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5): DataFrame =
    verifyPairsExactJaccard(
      bandCollisions(sigs, numHashes, bands), df, idCol, textCol, n, minJaccard)

  // -------------------------------------------------------------- SimHash

  /** PORTABLE MinHash signatures (Broder 1997) — the oracle-checkable
    * twin of [[minHashSignature]], exactly as [[graft.operators.PortableHll]]
    * twins `approx_count_distinct`: the seeded-LCG permutation family is
    * JVM-internal (its whole query family is rows-only by §8 rationale),
    * while here every stage is arithmetic any engine can replay, so
    * signatures, banding, candidates and estimates ALL hash-match an
    * external oracle.
    *
    * Permutation family (r15 — ONE md5 per distinct gram, was one md5
    * per (gram, perm), which billed 16 digests per gram and made
    * q_minhash_pairs the #3 bench entry): the 52-bit md5 parse of the
    * gram is the base point x, and permutation i is the affine
    * multiply-shift h_i(x) = (A_i·x + B_i) mod 2^52 — the classic
    * Carter-Wegman family MinHash analyses assume, with
    * A_i = ((2i+1)·25214903917) & (2^37−1) (odd ⇒ bijective mod 2^52)
    * and B_i = i·2654435769. The 52-bit modular product never leaves
    * the 63-bit signed-long lane in EITHER engine (DuckDB errors on
    * BIGINT overflow where the JVM wraps — the portability constraint
    * that sizes the limbs): x splits into 26-bit halves, each half
    * multiplies A_i (26+37 = 63 bits, safe), and the high product
    * re-enters mod 2^52 through a 26-bit mask. All ops are &, >>, *, +
    * on BIGINT — both engines have them with identical semantics on
    * these ranges.
    *
    * Long-form output (id, perm, sig) — ≤ perms rows per doc; sig is
    * the min 52-bit hash over the doc's DISTINCT word n-grams.
    * P(sig_a = sig_b) = jaccard(A, B) per permutation, so the matching
    * fraction estimates Jaccard. Empty-gram docs (< n tokens) emit no
    * rows.
    *
    * Shape (r15b): the ENTIRE signature stage is one codegen'd byte
    * pass per document ([[graft.plans.Kernels.minhashSig]] — tokenize,
    * per-gram md5, affine mixes and the element-wise running min fused;
    * duplicate grams need no distinct because min is idempotent). No
    * gram explode, no perm fan-out, no aggregation shuffle: the
    * signature table materializes row-locally. The r15a form (one md5
    * per distinct gram, 16× sequence-explode into a (id, perm) min
    * aggregate) is pinned as this kernel's reference in DedupSpec.
    */
  def minHashSignaturesPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      perms: Int = 16): DataFrame =
    minHashSigArrays(df, idCol, textCol, n, perms)
      .select(col("id"), posexplode(col("hs")).as(Seq("perm", "sig")))

  /** Array-form portable signatures: (id, hs long[perms]) — one row per
    * doc with >= n tokens, computed in a single fused byte pass. The
    * banding/estimate stages consume this form directly (1 row/doc
    * joins instead of perms-row slices); [[minHashSignaturesPortable]]
    * posexplodes it into the contract's long form.
    */
  private[graft] def minHashSigArrays(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      perms: Int): DataFrame = {
    require(perms >= 2 && perms <= 256, s"perms in [2,256], got $perms")
    df.select(col(idCol).as("id"),
        graft.plans.HashExpressions.minhashSig(col(textCol), n, perms).as("hs"))
      .filter(size(col("hs")) > 0)
  }

  /** LSH-banded near-dup pairs over [[minHashSignaturesPortable]]:
    * signatures split into `bands` bands of perms/bands rows; docs
    * sharing ANY band's exact signature tuple become candidates (the
    * standard s-curve: catch probability 1−(1−j^r)^b); candidates are
    * then scored by the matching-permutation fraction and kept at
    * `minEstJaccard`. Every stage — banding, candidacy, estimate — is
    * md5-arithmetic on grid values, so an external replay reaches the
    * identical pair set (the banding is part of the CONTRACT, not a
    * lossy heuristic hidden behind it).
    *
    * Shape (r15b, array form end to end): signatures are one row-local
    * kernel pass per doc; band keys derive row-locally from array
    * slices (no collect_list aggregation shuffle); the candidate join
    * is equi on (band, key); the estimate joins ONE signature-array row
    * per pair side and counts agreeing slots with an element-wise fold
    * (16 bounded ops per pair) instead of perms-row slice joins.
    * Nothing touches raw text after the signature pass.
    */
  def minHashPairsPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      minEstJaccard: Double = 0.5): DataFrame =
    portablePairs(df, idCol, textCol, Nil, n, perms, bands, minEstJaccard)

  /** [[minHashPairsPortable]] with extra band-join key columns: two docs
    * are candidates only when they agree on every `keys` column of `df`
    * AND on some band's key (an empty `keys` is the plain operator).
    * Output: id_a, id_b, n_match, est_jaccard. The signatures are not
    * persisted: without a cache Meter at sf0.1 shows no more jobs or
    * shuffle bytes, and the lazy result would leak it.
    */
  private def portablePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      keys: Seq[String],
      n: Int,
      perms: Int,
      bands: Int,
      minEstJaccard: Double): DataFrame = {
    require(bands >= 1 && perms % bands == 0,
      s"bands must divide perms, got $perms/$bands")
    val sigs = minHashSigArrays(df, idCol, textCol, n, perms)
    val keyed =
      if (keys.isEmpty) sigs
      else sigs.join(df.select(col(idCol).as("id") +: keys.map(col): _*), Seq("id"))
    val bandKeys = keyed.select(col("id") +: keys.map(col) :+
      posexplode(portableBandKeys(col("hs"), bands, perms / bands)).as(Seq("band", "bkey")): _*)
    val joinKeys = keys ++ Seq("band", "bkey")
    def side(id: String) = bandKeys.select(joinKeys.map(col) :+ col("id").as(id): _*)
    side("id_a").join(side("id_b"), joinKeys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(sigs.select(col("id").as("id_a"), col("hs").as("ha")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("hs").as("hb")), Seq("id_b"))
      .withColumn("n_match", matchingSlots(col("ha"), col("hb")))
      .withColumn("est_jaccard",
        round(col("n_match").cast("double") / perms, 6))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "n_match", "est_jaccard")
  }

  /** Portable band keys of a signature array: band b's key is the md5 of
    * its r = perms/bands slot values in perm order, joined by "," —
    * identical to the former collect_list(struct(perm, sig)) formulation
    * (array slices are already perm-ordered), computed row-locally.
    * array<string> of `bands` keys.
    */
  private def portableBandKeys(hs: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws(",",
        transform(slice(hs, b * lit(r) + lit(1), lit(r)), _.cast("string")))))

  /** The LSH OPERATING CURVE (r16): precision/recall of the banded pair
    * set vs the exhaustive Jaccard truth for EVERY (bands, rows/band)
    * config, from ONE signature pass — generalizes the single-config
    * audit (q_lsh_quality) so threshold tuning reads a table instead of
    * re-running audits per config. Per config b: candidates are pairs
    * agreeing on any of b band tuples (catch prob 1−(1−j^r)^b, r =
    * perms/b), kept at the estimate gate; the matching-fraction
    * estimate itself is config-independent, so it is computed once per
    * DISTINCT candidate pair and joined back to each config's pair set.
    *
    * Shape: every config's band keys emit from a single row-local
    * explode over the persisted signature arrays (Σb structs per doc —
    * 31 at the default ladder); one aliased self-join; the exhaustive
    * truth is the same sf-bounded audit q_lsh_quality runs. Like that
    * audit, this is a MEASUREMENT query — the truth side is quadratic
    * in near-dup density by design; run it on samples at scale. The
    * signatures are not persisted: without a cache Meter at sf0.1 shows
    * no more jobs or shuffle bytes, and the lazy result would leak it.
    */
  def lshOperatingCurve(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      perms: Int = 16,
      minJaccard: Double = 0.5,
      bandConfigs: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    bandConfigs.foreach(b => require(b >= 1 && perms % b == 0,
      s"every config must divide perms, got $b/$perms"))
    val spark = df.sparkSession
    import spark.implicits._
    val sigs = minHashSigArrays(df, idCol, textCol, n, perms)
    val allKeys = sigs.select(col("id"), explode(concat(bandConfigs.map { b =>
        transform(portableBandKeys(col("hs"), b, perms / b),
          (k, i) => struct(lit(b).as("cfg_bands"), i.as("band"), k.as("bkey")))
      }: _*)).as("k"))
      .select(col("id"), col("k.cfg_bands"), col("k.band"), col("k.bkey"))
    val cand = allKeys
      .select(col("cfg_bands"), col("band"), col("bkey"), col("id").as("id_a"))
      .join(allKeys
        .select(col("cfg_bands"), col("band"), col("bkey"), col("id").as("id_b")),
        Seq("cfg_bands", "band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("cfg_bands", "id_a", "id_b").distinct()
    val distinctPairs = cand.select("id_a", "id_b").distinct()
    val est = distinctPairs
      .join(sigs.select(col("id").as("id_a"), col("hs").as("ha")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("hs").as("hb")), Seq("id_b"))
      .withColumn("__est", round(
        matchingSlots(col("ha"), col("hb")).cast("double") / perms, 6))
      .filter(col("__est") >= minJaccard)
      .select("id_a", "id_b")
    val lsh = cand.join(est, Seq("id_a", "id_b"), "left_semi")
      .withColumn("__l", lit(1))
    val exact = jaccardPairs(df, idCol, textCol, n, minJaccard)
      .select(col("id_a"), col("id_b"))
      .crossJoin(bandConfigs.toDF("cfg_bands"))
      .withColumn("__e", lit(1))
    exact.join(lsh, Seq("cfg_bands", "id_a", "id_b"), "full_outer")
      .groupBy(col("cfg_bands").as("bands"))
      .agg(
        sum(when(col("__e").isNotNull, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("__l").isNotNull, 1L).otherwise(0L)).as("n_lsh"),
        sum(when(col("__e").isNotNull && col("__l").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
      .select(col("bands"), lit(perms).cast("int").as("perms"),
        (lit(perms) / col("bands")).cast("int").as("rows_per_band"),
        col("n_exact"), col("n_lsh"), col("n_both"),
        when(col("n_lsh") > 0,
          round(col("n_both").cast("double")
            / col("n_lsh").cast("double"), 6)).as("lsh_precision"),
        when(col("n_exact") > 0,
          round(col("n_both").cast("double")
            / col("n_exact").cast("double"), 6)).as("lsh_recall"))
  }

  /** The CCNet web-dedup pipeline as ONE operator (r16): exact collapse
    * on the CANONICAL URL (two crawled pages that canonicalize equal —
    * [[graft.functions.TextFunctions.canonicalUrl]]'s fragment/port/
    * tracking-param/case normalization — are the same fetch target;
    * keep the min-id capture), then NEAR-dup on text among the
    * survivors WITHIN each registered-domain group (mirrors, www/m
    * variants and template reprints live under one pay-level domain;
    * cross-domain quotation is deliberately out of scope here — that is
    * [[SubstringDedup]]'s grain). Near-dup candidates come from the
    * portable banded MinHash ([[minHashPairsPortable]]'s machinery)
    * with the DOMAIN FOLDED INTO THE BAND JOIN KEY, so banding never
    * compares across domains — which is also the skew guard: the
    * hottest band bucket is bounded by one domain's docs, not the
    * crawl. Drop policy: the higher id of each estimated-duplicate pair
    * (keep the earliest capture), matching the url-collapse keeper
    * rule.
    *
    * Every stage is oracle-replayable (regex chain is RE2-safe, md5
    * band keys, grid arithmetic) — the composition carries a FULL hash
    * oracle, unlike the seeded-family dedup path.
    *
    * Output: one row per doc surviving BOTH stages — (idCol, canon,
    * domain, n_url_dupes), n_url_dupes the collapsed fetch-target group
    * size.
    *
    * Scale shape: one groupBy on the canon key, one row-local sig pass
    * over keepers, the domain-scoped band join, and two anti/semi
    * joins. No all-pairs anywhere; text is read once for the sketch.
    */
  def webDedup(
      df: DataFrame,
      idCol: String,
      urlCol: String,
      textCol: String,
      n: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      minEstJaccard: Double = 0.5): DataFrame = {
    val canon = df.withColumn("__canon",
      graft.functions.TextFunctions.canonicalUrl(col(urlCol)))
    val groups = canon.groupBy(col("__canon"))
      .agg(min(col(idCol)).as("__kid"), count(lit(1)).as("n_url_dupes"))
    val keepers = canon
      .join(groups.select(col("__kid").as(idCol)), Seq(idCol), "left_semi")
      .join(groups.select(col("__canon"), col("n_url_dupes")), Seq("__canon"))
      .withColumn("__domain", graft.functions.TextFunctions.registeredDomain(
        graft.functions.TextFunctions.urlHost(col("__canon"))))
    val nearDropped =
      portablePairs(keepers, idCol, textCol, Seq("__domain"), n, perms, bands, minEstJaccard)
        .select(col("id_b").as(idCol)).distinct()
    keepers.join(nearDropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("__canon").as("canon"),
        col("__domain").as("domain"), col("n_url_dupes"))
  }

  /** MinHash CONTAINMENT estimates over the portable LSH candidates —
    * the asymmetric question Jaccard hides (Broder 1997 §2 defines
    * both): a 50-line quote inside a 5000-line document has tiny
    * Jaccard but containment ≈ 1 on the quote's side. From the
    * symmetric resemblance estimate ĵ and the EXACT per-doc distinct
    * gram counts (one row-local pass, no extra shuffle):
    *
    *   |A ∩ B| ≈ ĵ·(|A| + |B|) / (1 + ĵ)      (identity: j = i/(a+b−i))
    *   containment_a = |A ∩ B| / |A|,  containment_b = |A ∩ B| / |B|
    *
    * Candidates come from the same banded LSH as
    * [[minHashPairsPortable]] — a pair is surfaced when its JACCARD
    * clears the s-curve, so a tiny-quote-in-huge-doc pair may never
    * become a candidate (the documented recall gap of resemblance
    * banding; span-grain [[SubstringDedup]] is the operator that
    * catches those). For candidate pairs the estimates are fully
    * oracle-replayable: every input (n_match, sizes) is integer-exact
    * and the assembly is fixed IEEE ops.
    */
  def minHashContainment(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      minEstJaccard: Double = 0.2): DataFrame = {
    val pairs = minHashPairsPortable(df, idCol, textCol, n, perms, bands,
      minEstJaccard)
    // Exact distinct-gram counts via the codegen'd 64-bit gram-hash
    // kernel (one byte pass) instead of the interpreted string-gram HOF
    // pipeline — the established q_dedup_jaccard argument: distinct
    // counts over 64-bit gram hashes equal distinct string-gram counts
    // (collision-free at any realistic corpus vocabulary).
    val sizes = df.select(col(idCol).as("__id"),
        size(array_distinct(
          graft.plans.HashExpressions.wordNGramHashes(col(textCol), n)))
          .cast("long").as("__sz"))
      .filter(col("__sz") > 0)
    val estInt = col("est_jaccard") * (col("sz_a") + col("sz_b")).cast("double") /
      (lit(1.0) + col("est_jaccard"))
    pairs
      .join(sizes.select(col("__id").as("id_a"), col("__sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("__id").as("id_b"), col("__sz").as("sz_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"),
        col("n_match"), col("est_jaccard"),
        round(estInt / col("sz_a").cast("double"), 6).as("containment_a"),
        round(estInt / col("sz_b").cast("double"), 6).as("containment_b"))
  }

  /** 64-bit SimHash over token hashes: bit b of the fingerprint is the
    * sign of sum over tokens of (+-1 depending on bit b of xxhash64(token)).
    * Near-duplicates land within small hamming distance. Token hashing is
    * a codegen'd built-in; the 64-counter majority vote runs in the custom
    * `SimHash64Expr` primitive loop.
    */
  def simHash(textCol: Column): Column =
    graft.plans.HashExpressions.simHashFromText(textCol)

  // -------------------------------------------- collection-level MinHash

  /** One MinHash signature per group (source/domain/cluster): the
    * element-wise-min aggregate of per-document signatures equals the
    * signature of the union of the group's gram sets, so whole
    * collections can be compared for overlap without re-shingling
    * concatenated text. Map-side combine keeps the shuffle at one
    * signature per (partition, group).
    */
  def groupSignatures(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      seed: Long = 42L): DataFrame =
    df.select(
        col(groupCol).as("group"),
        minHashSignature(col(textCol), n, numHashes, seed).as("sig"))
      .groupBy("group")
      .agg(graft.plans.MinHashUnionAgg.minHashUnion(col("sig"), numHashes).as("group_sig"))

  /** Pairwise estimated Jaccard overlap between group gram sets, from
    * the aggregated signatures: |groups|^2 signature comparisons instead
    * of a cross-corpus gram join.
    */
  def groupOverlap(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      minEstJaccard: Double = 0.0,
      seed: Long = 42L): DataFrame = {
    val sigs = groupSignatures(df, groupCol, textCol, n, numHashes, seed)
    val left = sigs.select(col("group").as("group_a"), col("group_sig").as("sig_a"))
    val right = sigs.select(col("group").as("group_b"), col("group_sig").as("sig_b"))
    left.crossJoin(right)
      .filter(col("group_a") < col("group_b"))
      .withColumn("est_jaccard",
        graft.plans.MinHashUnionAgg.signatureJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("group_a", "group_b", "est_jaccard")
  }

  /** PORTABLE collection-level signatures — the oracle-checkable twin of
    * [[groupSignatures]], built from the fused per-doc kernel and the
    * element-wise-min aggregate: min over a group's docs of the per-doc
    * minima IS the min over every gram in the group, which a SQL replay
    * reaches as `min(hp) GROUP BY (group, perm)` over the shared affine
    * CTE. First oracle-exact pinning of [[graft.plans.MinHashUnionAgg]]
    * (its seeded uses are spec-pinned only). One row per group.
    */
  def groupSignaturesPortable(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 3,
      perms: Int = 16): DataFrame = {
    require(perms >= 2 && perms <= 256, s"perms in [2,256], got $perms")
    df.select(col(groupCol).as("group"),
        graft.plans.HashExpressions.minhashSig(col(textCol), n, perms).as("hs"))
      .filter(size(col("hs")) > 0)
      .groupBy("group")
      .agg(graft.plans.MinHashUnionAgg.minHashUnion(col("hs"), perms).as("group_sig"))
  }

  /** Pairwise estimated gram-set Jaccard between GROUPS (source/domain/
    * cluster) from the portable group signatures: |groups|² signature
    * comparisons — each a bounded element-wise fold — instead of a
    * cross-corpus gram join; the sketch-path complement to the exact
    * census [[graft.operators.CorpusStats]] overlap matrix. Fully
    * oracle-replayable end to end.
    */
  def groupOverlapPortable(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 3,
      perms: Int = 16): DataFrame = {
    val sigs = groupSignaturesPortable(df, groupCol, textCol, n, perms)
    val left = sigs.select(col("group").as("group_a"), col("group_sig").as("sa"))
    val right = sigs.select(col("group").as("group_b"), col("group_sig").as("sb"))
    left.crossJoin(right)
      .filter(col("group_a") < col("group_b"))
      .withColumn("n_match", matchingSlots(col("sa"), col("sb")))
      .withColumn("est_jaccard",
        round(col("n_match").cast("double") / perms, 6))
      .select("group_a", "group_b", "n_match", "est_jaccard")
  }

  // ------------------------------------------------ winnowing fingerprints

  /** Winnowed fingerprint set per document (MOSS-style): near-copies
    * share fingerprints; overlap is found with a fingerprint equi-join
    * instead of an all-pairs comparison. The selection is ~2/(w+1) of the
    * grams, so the join input shrinks accordingly — the cheap first pass
    * before exact verification at corpus scale.
    */
  def winnowFingerprintSets(df: DataFrame, idCol: String, textCol: String, n: Int = 3, w: Int = 4): DataFrame =
    df.select(
        col(idCol).as("id"),
        explode(graft.plans.HashExpressions.winnowFingerprints(col(textCol), n, w)).as("fp"))
      .distinct()

  /** Candidate near-copy pairs by shared winnowing fingerprints, with the
    * shared-fingerprint count as evidence. `minShared` tunes precision.
    *
    * `maxDf` drops fingerprints appearing in more than that many
    * documents before the self-join (MOSS's boilerplate cull): a
    * fingerprint shared by k docs contributes k^2 join pairs, so hot
    * template/header fingerprints dominate cost while carrying no
    * near-copy signal. The hot list is tiny and broadcast into an
    * anti-join. For corpora dense in EXACT copies, collapse them first
    * ([[dropExactDuplicates]]) — every fingerprint of a doc with c
    * copies is c-hot by construction, which no per-fingerprint cap
    * should be asked to absorb.
    */
  def winnowCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxDf: Int = 1000): DataFrame = {
    val fps = winnowFingerprintSets(df, idCol, textCol, n, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("fp")
    val pruned = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    val a = pruned.select(col("id").as("id_a"), col("fp"))
    val b = pruned.select(col("id").as("id_b"), col("fp"))
    a.join(b, "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ------------------------------------------- embedding cosine near-dup

  /** LSH-bucketed embedding near-dup: random-hyperplane signatures are
    * split into (maxHamming+1) bit chunks; by pigeonhole, any two
    * signatures within maxHamming bits share at least one exact chunk, so
    * a chunk equi-join finds all such pairs. Candidates are then verified
    * with exact cosine. Recall is probabilistic in signature space (a
    * high-cosine pair can still differ in > maxHamming bits — more planes
    * or probes trade cost for recall); precision is exact thanks to the
    * verify step. This is the 100 TB path for [[embeddingNearDuplicates]].
    * On the sf0.1 embeddings (16 planes, maxHamming 2: chunks of 6, 6 and
    * 4 bits, minCosine 0.5) the chunk join yields 198,913 collisions and
    * 193,326 distinct pairs for exact cosine to verify, of which 7 pass:
    * the verify join does nearly all the work. The signed vectors are
    * not persisted: without a cache Meter at sf0.1 shows no more jobs
    * or shuffle bytes, and the lazy result would leak it.
    */
  def embeddingNearDuplicatesLSH(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      numPlanes: Int = 16,
      maxHamming: Int = 2,
      seed: Long = 42L): DataFrame = {
    import graft.functions.VectorOps
    val chunkKeys = VectorOps.hyperplaneChunkKeys(numPlanes, maxHamming)
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val planes = VectorOps.randomPlanes(numPlanes, dim, seed)
    // Norm per row up front: the verify join scores every candidate pair
    // and must not recompute norms per pair.
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig", VectorOps.hyperplaneSignature(col("v"), planes))
      .withColumn("nrm", VectorOps.l2Norm(col("v")))

    val exploded = v.select(col("id"), explode(chunkKeys(col("sig"))).as("ch"))
      .select(col("id"), col("ch.chunk").as("chunk"), col("ch.cv").as("cv"))
    val cands = exploded.select(col("id").as("id_a"), col("chunk"), col("cv"))
      .join(exploded.select(col("id").as("id_b"), col("chunk"), col("cv")), Seq("chunk", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    cands
      .join(v.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a")), "id_a")
      .join(v.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b")), "id_b")
      .withColumn("cos_sim",
        VectorOps.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos_sim") >= minCosine)
      .select("id_a", "id_b", "cos_sim")
  }

  // ---------------------------------------------- incremental (vs index)

  /** Fingerprint index rows for a corpus: (id, content_md5, sig). The
    * persisted form of what [[dropAgainstIndex]] dedups new batches
    * against — continuous ingest NEVER re-sketches the historical
    * corpus; it appends today's fingerprints and anti-joins tomorrow's
    * batch. ~ (16 + 8 * numHashes) bytes per document, independent of
    * document length.
    */
  def fingerprintIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      seed: Long = 42L): DataFrame =
    df.select(
      col(idCol).as("id"),
      md5(col(textCol)).as("content_md5"),
      minHashSignature(col(textCol), n, numHashes, seed).as("sig"))

  /** Incremental dedup: drop batch rows that duplicate the INDEXED
    * corpus — exact copies by md5 anti-join, near copies by LSH band
    * collision verified with SIGNATURE AGREEMENT (the fraction of
    * agreeing minhash positions is an unbiased estimate of Jaccard), so
    * verification needs no corpus text at all: the index alone carries
    * everything, which is the point at 100 TB. Within-batch duplicates
    * are out of scope by design — run the batch operators
    * ([[dropExactDuplicates]], [[minHashNearDuplicates]]) first, then
    * this against history.
    *
    * Sub-n-token documents carry the identity signature and are excluded
    * from the near path on BOTH sides (they only dedup byte-exact via
    * md5) — otherwise every tiny doc would "agree" with every other.
    *
    * `minAgreement` is the estimated-Jaccard cutoff (estimator stddev
    * ~ sqrt(j(1-j)/numHashes), ~0.06 at j=0.5, numHashes=64).
    *
    * Drops the `id_a` set of [[pairsAgainstIndex]] — callers that
    * already hold a [[fingerprintIndex]] frame for the batch (the
    * ingestion step does, it writes one as the index delta anyway) read
    * it from [[pairsAgainstIndexPresketched]] and skip this sketch.
    */
  def dropAgainstIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame, /* id, content_md5, sig */
      numHashes: Int = 64,
      bands: Int = 16,
      minAgreement: Double = 0.5,
      n: Int = 3,
      seed: Long = 42L): DataFrame = {
    val dup = pairsAgainstIndex(batch, idCol, textCol, index, numHashes, bands, minAgreement, n, seed)
      .select(col("id_a").as(idCol)).distinct()
    batch.join(dup, Seq(idCol), "left_anti")
  }

  /** Cross-batch near-duplicate PAIRS: (id_a = batch doc, id_b = indexed
    * doc, agreement) for every batch document duplicating the INDEXED
    * corpus — the pair-emitting sibling of [[dropAgainstIndex]] (same
    * band-collision candidates, same signature-agreement verification,
    * no corpus text touched). Where dropAgainstIndex implements the
    * DROP policy, this feeds the CLUSTER policy: fold the emitted pairs
    * (plus the batch's in-batch pairs) into a [[ClusterStore]] and a
    * batch document joins its standing duplicate cluster at ingestion —
    * which is what keeps [[TrainingData.leakageSafeSplitIncremental]]
    * leakage-safe ACROSS batches, not just within one.
    *
    * Exact copies (md5 equality) pair at agreement 1.0 and skip the
    * near path, mirroring dropAgainstIndex's exact/near split; identical
    * text implies identical signatures, so 1.0 is the true agreement.
    */
  def pairsAgainstIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame, /* id, content_md5, sig */
      numHashes: Int = 64,
      bands: Int = 16,
      minAgreement: Double = 0.5,
      n: Int = 3,
      seed: Long = 42L): DataFrame =
    pairsAgainstIndexPresketched(
      fingerprintIndex(batch, idCol, textCol, n, numHashes, seed),
      index, numHashes, bands, minAgreement)

  /** [[pairsAgainstIndex]] when the batch is ALREADY sketched — both
    * sides are [[fingerprintIndex]] frames, so the whole sweep is
    * fingerprint arithmetic (md5 join for the exact pairs, band keys
    * from sig slices, agreement from zip_with) with zero text access
    * (r16, the single-sketch ingestion path).
    */
  def pairsAgainstIndexPresketched(
      fp: DataFrame, /* id, content_md5, sig */
      index: DataFrame, /* id, content_md5, sig */
      numHashes: Int = 64,
      bands: Int = 16,
      minAgreement: Double = 0.5): DataFrame = {
    require(minAgreement > 0 && minAgreement <= 1,
      s"minAgreement must be in (0,1], got $minAgreement")
    val bfp = fp.select(
      col("id").as("id_a"), col("content_md5").as("_md5"), col("sig").as("_sig"))
    val exactPairs = bfp
      .join(index.select(col("id").as("id_b"), col("content_md5").as("_md5")),
        Seq("_md5"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("agreement"))
    val afterExact = bfp.join(
      index.select(col("content_md5").as("_md5")), Seq("_md5"), "left_anti")

    // Candidate (batch, index) pairs from band collisions — the sigs are
    // NOT carried through the band explode; they rejoin per distinct pair.
    val cands = sigBandTable(afterExact, col("id_a"), col("_sig"), numHashes, bands)
      .join(
        sigBandTable(index, col("id"), col("sig"), numHashes, bands)
          .withColumnRenamed("bid", "iid"),
        Seq("band", "band_hash"))
      .select(col("bid"), col("iid")).distinct()
    val nearPairs = cands
      .join(afterExact.select(col("id_a").as("bid"), col("_sig")), "bid")
      .join(index.select(col("id").as("iid"), col("sig")), "iid")
      .withColumn("agreement", matchingSlots(col("_sig"), col("sig")).cast("double") / lit(numHashes))
      .filter(col("agreement") >= minAgreement)
      .select(col("bid").as("id_a"), col("iid").as("id_b"), col("agreement"))
    exactPairs.unionByName(nearPairs)
  }

  /** Brute-force cosine near-duplicate pairs over an embedding column.
    * Exhaustive O(n^2) — correct baseline and the oracle for the LSH
    * variant in SimilaritySearch; block on a partition key or use LSH at
    * scale.
    */
  def embeddingNearDuplicates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double): DataFrame = {
    import graft.functions.VectorOps
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", VectorOps.l2Norm(col("v")))
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        VectorOps.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos_sim") >= minCosine)
      .select("id_a", "id_b", "cos_sim")
  }
}
