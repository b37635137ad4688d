package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Vector search over an embedding column: brute-force cosine, LSH
  * buckets, IVF cells (plain, PCA-reduced, filtered, auto-widened,
  * batch), kNN joins, contrastive-pair mining and the 1-bit sign store;
  * [[Quantization]] adds the SQ8/PQ/OPQ scorers. Every top-k in the two
  * files is route → probe → score → rank over the core below:
  *  - route: one distance, Σ(c−q)² folded left to right, on the driver
  *    for one query ([[nearestCells]]: its `cell IN (…)` list bucket-
  *    prunes a persisted index) or row-locally in the plan for a batch
  *    ([[nearestCellsInPlan]]) — a query gets the same cells either way;
  *  - probe: routed cells (plus a predicate), an LSH signature filter,
  *    or the whole corpus;
  *  - score: exact cosine ([[cosineScore]]), SQ8-decoded cosine or dot,
  *    PQ ADC, or Hamming;
  *  - rank: [[topK]], [[topKPerQuery]], [[rerank]] and
  *    [[exhaustiveTopKPerQuery]].
  */
object SimilaritySearch {

  // ------------- the probe core: route, probe, score, rank ------------- //

  /** Σ(c−q)² folded left to right: the bits of [[nearestCellsInPlan]]'s fold. */
  private def sqDist(c: Array[Double], q: Seq[Double]): Double =
    c.zip(q).map { case (x, y) => (x - y) * (x - y) }.sum

  /** Route one query on the driver: its `n` nearest cells, nearest first,
    * ties to the lower cell id.
    */
  private[operators] def nearestCells(centroids: Array[Array[Double]], q: Seq[Double], n: Int): Seq[Int] =
    centroids.indices.sortBy(i => sqDist(centroids(i), q)).take(n)

  /** Route in the plan: the `n` nearest cells of the array<double> column
    * `qv`, nearest first, by [[nearestCells]]' distance and tie order.
    * The centroid table is a literal column, so routing is row-local: no
    * exchange.
    */
  private[operators] def nearestCellsInPlan(qv: Column, centroids: Array[Array[Double]], n: Int): Column = {
    val table = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"), typedLit(c.toSeq).as("cv"))
    }.toIndexedSeq: _*)
    slice(array_sort(transform(table, c => struct(
      aggregate(zip_with(qv, c("cv"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, d) => acc + d).as("d2"),
      c("cell").as("cell")))), 1, n)("cell")
  }

  /** Σ a(j)·b(j) for j < n, left to right: the driver-side query maps
    * (PCA projection, OPQ rotation, the PQ ADC table).
    */
  private[operators] def driverDot(n: Int)(a: Int => Double, b: Int => Double): Double = {
    var s = 0.0
    var j = 0
    while (j < n) { s += a(j) * b(j); j += 1 }
    s
  }

  /** Probe one query: the rows of its `nprobe` nearest cells. */
  private[operators] def probeCells(index: IvfIndex, q: Seq[Double], nprobe: Int): DataFrame =
    index.assigned.filter(col("cell").isin(
      nearestCells(index.centroids, q, nprobe).map(Integer.valueOf): _*))

  /** A query batch as (qid, qv: array<double>, qn = ‖qv‖). */
  private def batchQueries(queries: DataFrame, qIdCol: String, qVecCol: String): DataFrame =
    queries.select(col(qIdCol).as("qid"), VectorOps.asDouble(col(qVecCol)).as("qv"))
      .withColumn("qn", VectorOps.l2Norm(col("qv")))

  /** Route a query batch in the plan: one row per query and each of its
    * `n` nearest cells.
    */
  private def routeBatch(queries: DataFrame, qIdCol: String, qVecCol: String,
      centroids: Array[Array[Double]], n: Int): DataFrame =
    batchQueries(queries, qIdCol, qVecCol)
      .withColumn("cell", explode(nearestCellsInPlan(col("qv"), centroids, n)))

  /** Probe and score a routed batch: each (qid, qv, qn, cell) row meets
    * its cell's rows of `assigned` — an equi-join on `cell`, which a
    * cell-bucketed store serves without a corpus-side shuffle. Output
    * (qid, id, cos_sim).
    */
  private def probeBatch(assigned: DataFrame, routed: DataFrame, excludeSelf: Boolean): DataFrame = {
    val corpus = assigned.select(col(assigned.columns.head).as("id"), col("v"), col("cell"))
      .withColumn("nrm", VectorOps.l2Norm(col("v")))
    val joined = routed.join(corpus, "cell")
    (if (excludeSelf) joined.filter(col("qid") =!= col("id")) else joined)
      .select(col("qid"), col("id"),
        cosineScore(col("v"), col("nrm"), col("qv"), col("qn")).as("cos_sim"))
  }

  /** Score: exact cosine from both norms, rounded to 6dp for cross-engine
    * determinism. A zero-norm vector on either side has no cosine: its
    * zero divisor turns null (`nullif`, which evaluates the product once)
    * instead of dividing by zero, which ANSI mode raises and which would
    * fail the whole query; the rank steps drop null scores.
    */
  private[operators] def cosineScore(v: Column, vn: Column, q: Column, qn: Column): Column =
    round(VectorOps.dot(v, q) / nullif(vn * qn, lit(0.0)), 6)

  private[operators] def cosineScore(v: Column, q: Column): Column =
    cosineScore(v, VectorOps.l2Norm(v), q, VectorOps.l2Norm(q))

  /** Against one driver-side query. Float embeddings are consumed in
    * place (type-aware dot kernel), with no array<double> copy.
    */
  private[operators] def cosineTo(v: Column, q: Seq[Double]): Column = cosineScore(v, typedLit(q))

  private def rankOrder(score: String, ascending: Boolean): Column =
    if (ascending) asc_nulls_last(score) else desc(score)

  /** Rank one query: the `k` best rows by `score` (lowest first for a
    * distance), ties to the lower id — a global orderBy + limit, planned
    * as one TakeOrderedAndProject. Null scores rank last and are dropped.
    */
  private[operators] def topK(scored: DataFrame, idCol: String, score: String, k: Int,
      ascending: Boolean = false): DataFrame =
    scored.orderBy(rankOrder(score, ascending), col(idCol)).limit(k).filter(col(score).isNotNull)

  /** Rank a batch: per `qidCol`, the `k` best rows numbered 1..k in
    * `rankCol` — a row_number window partitioned by query. Same order
    * and null rule as [[topK]].
    */
  private[operators] def topKPerQuery(scored: DataFrame, qidCol: String, idCol: String,
      score: String, k: Int, rankCol: String, ascending: Boolean = false): DataFrame =
    scored.withColumn(rankCol, row_number().over(
        Window.partitionBy(qidCol).orderBy(rankOrder(score, ascending), col(idCol))))
      .filter(col(rankCol) <= k && col(score).isNotNull)

  /** Shortlist-then-exact re-rank: re-score only the `shortlist` ids of
    * `corpus` (a broadcast semi-join: the full-precision read touches
    * only the shortlist) and keep the `k` best.
    */
  private[operators] def rerank(corpus: DataFrame, idCol: String, shortlist: DataFrame,
      score: Column, scoreName: String, k: Int): DataFrame =
    topK(corpus.join(broadcast(shortlist.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol), score.as(scoreName)), idCol, scoreName, k)

  /** The exhaustive batch: ONE corpus scan scores every query — `code` on
    * both sides, the small query set broadcast, self-pairs excluded —
    * then [[topKPerQuery]] into `rnk`, which shuffles only scored rows.
    * Output (qid, idCol, scoreName, rnk).
    */
  private[operators] def exhaustiveTopKPerQuery(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, code: Column => Column, score: (Column, Column) => Column,
      scoreName: String, k: Int, ascending: Boolean = false): DataFrame = {
    val qs = broadcast(queries.select(col(idCol).as("qid"), code(col(vecCol)).as("__q")))
    topKPerQuery(corpus.select(col(idCol), code(col(vecCol)).as("__c"))
        .join(qs, col(idCol) =!= col("qid"))
        .select(col("qid"), col(idCol), score(col("__c"), col("__q")).as(scoreName)),
      "qid", idCol, scoreName, k, "rnk", ascending)
  }

  // --------------------------- the top-k forms --------------------------- //

  /** Exact top-k by cosine against a literal query vector: one scan, one
    * TakeOrderedAndProject. `cos_sim` is rounded to 6dp; ties break on id.
    */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int): DataFrame =
    topK(df.select(col(idCol), cosineTo(col(vecCol), query).as("cos_sim")), idCol, "cos_sim", k)

  /** Two-stage coarse-to-fine search: a truncated-dimension scan
    * ([[graft.functions.VectorOps.truncate]] — a quarter of the vector
    * bytes at coarseDims = dims/4) selects `coarseK` candidates, then
    * exact full-dimension cosine re-ranks the survivors to `k`. The
    * standard matryoshka serving pattern: the expensive full-width read
    * touches only coarseK rows. Both stages are deterministic (rounded
    * scores, id tie-breaks), so the whole composition carries a value
    * oracle — unlike LSH/IVF coarse stages, which are model state.
    */
  def coarseToFineTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      coarseDims: Int,
      coarseK: Int): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    val cand = bruteForceTopK(
      df.withColumn("__t", VectorOps.truncate(col(vecCol), coarseDims)),
      idCol, "__t", query.take(coarseDims), coarseK)
    rerank(df, idCol, cand, cosineTo(col(vecCol), query), "cos_sim", k)
  }

  /** Bucketed ANN: restrict scoring to vectors whose hyperplane signature
    * is within `maxProbeHamming` bits of the query's signature, then rank
    * those by exact cosine. multiProbe=0 searches only the exact bucket.
    */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      numPlanes: Int = 12,
      maxProbeHamming: Int = 1,
      seed: Long = 42L): DataFrame =
    lshProbe(df, idCol, vecCol, query, k, numPlanes, seed)((sig, qSig) =>
      bit_count(sig.bitwiseXOR(lit(qSig))) <= maxProbeHamming)

  /** The LSH probe both forms share: sign the corpus with the seeded
    * planes, keep rows whose signature is `near` the query's, rank by
    * exact cosine.
    */
  private def lshProbe(df: DataFrame, idCol: String, vecCol: String, query: Seq[Double],
      k: Int, numPlanes: Int, seed: Long)(near: (Column, Long) => Column): DataFrame = {
    val planes = VectorOps.randomPlanes(numPlanes, query.length, seed)
    val qSig: Long = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (x, y) => x * y }.sum
      if (d >= 0) 1L << i else 0L
    }.foldLeft(0L)(_ | _)
    topK(df.filter(near(VectorOps.hyperplaneSignature(col(vecCol), planes), qSig))
        .select(col(idCol), cosineTo(col(vecCol), query).as("cos_sim")),
      idCol, "cos_sim", k)
  }

  /** All signatures within `maxHamming` bit flips of `qSig` over
    * `numPlanes` bits — the multi-probe sequence. Size is
    * sum_{i<=h} C(numPlanes, i) (e.g. 137 for 16 planes, h=2): tiny,
    * generated on the driver, usable as an IN-list pruning predicate.
    */
  def probeSignatures(qSig: Long, numPlanes: Int, maxHamming: Int): Seq[Long] = {
    require(numPlanes >= 1 && numPlanes <= 63, s"numPlanes must be in [1,63], got $numPlanes")
    require(maxHamming >= 0 && maxHamming <= numPlanes,
      s"maxHamming must be in [0,numPlanes], got $maxHamming")
    // The ball size sum_{i<=h} C(numPlanes, i) grows combinatorially —
    // e.g. numPlanes=63, h=10 is already ~70B signatures, a driver OOM and
    // an unusable IN-list. Bound it up front; large radii belong to the
    // XOR-scan form (lshTopK), which filters in one pass at any radius.
    val ballSize = (0 to maxHamming).foldLeft(0L) { (acc, h) =>
      val c = (0 until h).foldLeft(1L)((n, i) =>
        math.min(n, 1L << 40) * (numPlanes - i) / (i + 1))
      math.min(acc + c, 1L << 40)
    }
    require(ballSize <= 8192,
      s"multi-probe ball has $ballSize signatures (> 8192): an IN-list this " +
        "size cannot prune anything — use lshTopK's XOR filter for large radii")
    (0 to maxHamming).flatMap(h =>
      (0 until numPlanes).combinations(h).map(bits =>
        bits.foldLeft(qSig)((s, b) => s ^ (1L << b))))
  }

  /** Multi-probe ANN: same results as [[lshTopK]] (bucket + every bucket
    * within `maxProbeHamming` bit flips) but expressed as an explicit
    * probe list — `sig IN (probes)` instead of a `bit_count(sig XOR q)`
    * scan predicate. The IN-list is what a signature-partitioned or
    * bucketed corpus can PRUNE on (partition/bucket/file skipping); the
    * XOR filter always touches every row. Recall is tuned by
    * `maxProbeHamming` alone — signatures are never rebuilt.
    */
  def lshTopKMultiProbe(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      numPlanes: Int = 12,
      maxProbeHamming: Int = 1,
      seed: Long = 42L): DataFrame =
    lshProbe(df, idCol, vecCol, query, k, numPlanes, seed)((sig, qSig) =>
      sig.isin(probeSignatures(qSig, numPlanes, maxProbeHamming): _*))

  /** 1-bit sign quantization + Hamming top-k: pack each vector's sign
    * bits into 64-bit words (8 bytes for a 64-dim corpus — 32x under
    * float32, the memory floor of the quantization family) and rank by
    * xor+popcount distance to the packed query. Deterministic with NO
    * model state — the bits are the data's own signs — so unlike
    * IVF/SQ8/PQ the contract query (`q_sim_binary`) carries a full
    * DuckDB oracle. Ties break id-ascending; the plan is one
    * codegen'd scan + TakeOrderedAndProject. At rest, persist
    * `signPack(vec)` next to ids and the probe reads 8 bytes/vector.
    * Shortlist + exact re-rank is the composition
    * `bruteForceTopK(corpus semi-joined to binarySignTopK(…, k * f))`,
    * the [[coarseToFineTopK]] shape with the cheapest coarse pass.
    */
  def binarySignTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      k: Int): DataFrame =
    topK(corpus.select(col(idCol),
        graft.plans.HashExpressions.hammingTo(signPack(col(vecCol)), packSignsDriver(query))
          .as("hamming")),
      idCol, "hamming", k, ascending = true)

  /** Batch form: ONE corpus scan serves every query — corpus packs
    * once per row, the (tiny) packed query set broadcasts, pairwise
    * xor+popcount scores the cross join, and the per-query top-k is a
    * rank window partitioned by query id (shuffles only candidate
    * rows). Same full-oracle determinism as [[binarySignTopK]].
    */
  def binarySignTopKBatch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame =
    exhaustiveTopKPerQuery(corpus, queries, idCol, vecCol, signPack,
      graft.plans.HashExpressions.hammingPair, "hamming", k, ascending = true)

  private def signPack(v: Column): Column =
    graft.plans.HashExpressions.signPack(VectorOps.asDouble(v))

  // --------- persisted stores: sidecars, commits and tombstones --------- //

  /** Store metadata (centroids, codebooks, the id column NAME, which
    * keys the tombstone anti-join by name, never by ordinal) is a tiny
    * JSON sidecar; its reader passes the schema, so no inference job.
    */
  private[operators] def writeSidecar(meta: DataFrame, dir: String): Unit =
    meta.coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite).json(dir)

  private[operators] def readSidecar(
      spark: org.apache.spark.sql.SparkSession, dir: String, ddl: String): org.apache.spark.sql.Row =
    spark.read.schema(ddl).json(dir).head()

  private def storeIdCol(spark: org.apache.spark.sql.SparkSession, path: String): String =
    readSidecar(spark, s"$path/idcol", "id_col string").getString(0)

  private def tombstoneDir(path: String) = new org.apache.hadoop.fs.Path(s"$path/_tombstones")

  /** Delete ids from a persisted store — IVF, PQ or binary — by
    * tombstone: metadata-only, O(deletions). `ids` is a one-column
    * DataFrame, so a deletion batch flows in as data, never as driver
    * plan text; re-deleting an id appends a duplicate the load-time
    * anti-join ignores. The store's own vacuum folds the tombstones in,
    * and any save at the path clears them. Kept without a pipeline
    * caller: it maintains the stores that contract queries write.
    */
  def deleteFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      ids: DataFrame): Unit =
    ids.select(col(ids.columns.head).as("__del_id")).distinct()
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(tombstoneDir(path).toString)

  /** `stored` without its tombstoned ids: a broadcast anti-join —
    * deletion sets are index metadata, not corpus-sized.
    */
  private def withoutTombstones(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      stored: DataFrame,
      idCol: String): DataFrame = {
    val tp = tombstoneDir(path)
    if (tp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tp)) {
      val ts = spark.read.parquet(tp.toString).distinct()
      stored.join(broadcast(ts), stored(idCol) === ts("__del_id"), "left_anti")
    } else stored
  }

  private def clearTombstones(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val tp = tombstoneDir(path)
    tp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(tp, true)
  }

  /** Replace a codes-at-rest store's rows (`dir` = `path/words` or
    * `path/codes`, a [[graft.sources.VersionedTable]]): one overwrite
    * commit — the batch record rides along — then a vacuum to it, so
    * no earlier file stays on disk, then the tombstones are cleared:
    * the new rows are the whole store. `readVersion` is the version
    * the rows were read from, if any: the commit then fails when the
    * head has moved past it.
    */
  private[operators] def replaceStore(
      rows: DataFrame, dir: String, path: String, readVersion: Option[Int] = None): Unit = {
    val spark = rows.sparkSession
    val v = graft.sources.VersionedTable.commit(spark, dir, rows,
      overwrite = true, overwriteSchema = true, expectedParent = readVersion)
    graft.sources.VersionedTable.vacuum(spark, dir, v)
    clearTombstones(spark, path)
  }

  /** Fold a codes-at-rest store's tombstones in: its live rows at the
    * head, rewritten by [[replaceStore]] against that head, so an append
    * that commits meanwhile fails the compaction instead of being
    * dropped. The files a compaction reads are immutable, so it needs
    * no checkpoint of its input.
    */
  private[operators] def compactStore(
      spark: org.apache.spark.sql.SparkSession, dir: String, path: String, idCol: String): Unit = {
    val head = graft.sources.VersionedTable.latestVersion(spark, dir)
    replaceStore(
      withoutTombstones(spark, path, graft.sources.VersionedTable.read(spark, dir, head), idCol),
      dir, path, Some(head))
  }

  private[operators] def loadStore(
      spark: org.apache.spark.sql.SparkSession, dir: String, path: String, idCol: String): DataFrame =
    withoutTombstones(spark, path, graft.sources.VersionedTable.read(spark, dir), idCol)

  /** Persist packed sign words — the 1-bit codes-at-rest form: the
    * stored table is (id, words) at ~8 bytes/vector payload, and a
    * probe scans ONLY it (no floats, no re-pack). `words/` is a
    * [[graft.sources.VersionedTable]]; the id column name travels in a
    * sidecar like the IVF/PQ stores, and deletion is the shared
    * [[deleteFromIndex]].
    *
    * @param carryCols metadata columns stored beside the sign words —
    *                  same attribute co-location as
    *                  [[buildIvfIndex]]'s carryCols, enabling
    *                  [[binaryTopKStoredWhere]] to filter inside the
    *                  stored probe.
    */
  def saveBinaryIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      carryCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    writeSidecar(Seq(idCol).toDF("id_col"), s"$path/idcol")
    replaceStore(
      corpus.select((Seq(col(idCol), signPack(col(vecCol)).as("words")) ++ carryCols.map(col)): _*),
      s"$path/words", path)
  }

  /** Hamming probe over a persisted sign store — identical ranking to
    * [[binarySignTopK]] over the original vectors (packing is
    * deterministic; pinned in SimilaritySpec).
    */
  def binaryTopKStored(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: Array[Double],
      k: Int): DataFrame =
    binaryTopKStoredWhere(spark, path, query, k, lit(true))

  /** Attribute-filtered Hamming probe of a sign store written with
    * carryCols: the predicate lands BEFORE the ranking, pushed to the
    * store's parquet scan by Catalyst — a slice probe reads less, never
    * post-filters (mirrors [[ivfTopKWhere]] for the IVF store).
    */
  def binaryTopKStoredWhere(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: Array[Double],
      k: Int,
      pred: org.apache.spark.sql.Column): DataFrame = {
    val idCol = storeIdCol(spark, path)
    topK(loadStore(spark, s"$path/words", path, idCol)
        .filter(pred)
        .select(col(idCol),
          graft.plans.HashExpressions.hammingTo(col("words"), packSignsDriver(query)).as("hamming")),
      idCol, "hamming", k, ascending = true)
  }

  /** Fold tombstones into the sign store: a compaction commit of the
    * live words. O(index) — amortize over many deletions, like the
    * IVF/PQ vacuums. Kept without a pipeline caller: it maintains the
    * sign store that [[saveBinaryIndex]] writes (ScaleStress `stores`).
    */
  def vacuumBinaryIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactStore(spark, s"$path/words", path, storeIdCol(spark, path))

  private def packSignsDriver(v: Array[Double]): Seq[Long] = {
    val words = new Array[Long]((v.length + 63) >>> 6)
    var i = 0
    while (i < v.length) {
      if (v(i) > 0) words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    words.toSeq
  }

  /** IVF (inverted-file) index: KMeans partitions the corpus into `nlist`
    * Voronoi cells; queries score only the `nprobe` nearest cells. The
    * assignment DataFrame is the "index" — at scale you persist/bucket it
    * by cell so a probe touches nlist/nprobe of the data. Centroids are
    * tiny (nlist x dim) and live on the driver for query routing.
    */
  final case class IvfIndex(
      centroids: Array[Array[Double]],
      assigned: DataFrame /* idCol, cell, vector as array<double> */) {

    /** Release the index's cached assignment. [[buildIvfIndex]] and
      * [[rebalanceIvfIndex]] persist `assigned` (every probe re-reads
      * it; without the persist each query re-runs the clustering scan),
      * and Spark caches are not GC'd with the object — a long-running
      * session that builds indexes in a loop would otherwise accrete
      * index-sized cached plans. Call when the index is retired; no-op
      * for indexes whose assignment is an external table
      * ([[loadIvfIndex]]).
      */
    def release(): Unit = { assigned.unpersist(); () }
  }

  /** @param carryCols metadata columns to co-locate with the index rows
    *                   (source, license, lang, label, ...) — the
    *                   prerequisite for attribute-FILTERED search
    *                   ([[ivfTopKWhere]]): a predicate can only prune
    *                   inside the probe if its columns live beside the
    *                   codes, not in a table a probe would have to join.
    */
  def buildIvfIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      seed: Long = 42L,
      maxIter: Int = 8,
      carryCols: Seq[String] = Nil): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val prepared = df.select(
      (Seq(col(idCol), col(vecCol).as("v"),
        array_to_vector(col(vecCol)).as("features")) ++ carryCols.map(col)): _*)
    // Routing cells don't need converged clustering: random init (one
    // pass) + few Lloyd iterations gives the same recall-per-probe as
    // k-means|| at a fraction of the fit jobs; recall is governed by
    // nprobe, and the nprobe=nlist=brute-force identity is init-agnostic.
    val model = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("features")
      .setInitMode("random").setMaxIter(maxIter).fit(prepared)
    val assigned = model.transform(prepared)
      .select((Seq(col(idCol), col("v"), col("prediction").as("cell")) ++
        carryCols.map(col)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IvfIndex(model.clusterCenters.map(_.toArray), assigned)
  }

  /** A PCA-reduced IVF index (r13, the distributed-PCA follow-through):
    * the eigenbasis routes and shortlists in `components` dimensions
    * while the FULL vectors ride the assignment as a carry column for
    * exact re-ranking. At 100 TB the win is the candidate scan: cells
    * cluster and probe over `components`-sized vectors (d -> k bytes
    * per row in the hot loop) and the d-dimensional read touches only
    * the shortlist — the matryoshka/coarse-to-fine pattern with a
    * LEARNED basis instead of truncation, composed from the same
    * moment fold the covariance/PCA queries verify.
    */
  final case class PcaIvfIndex(pca: EmbeddingStats.PcaModel, ivf: IvfIndex) {
    def release(): Unit = ivf.release()
  }

  /** Fit PCA(components) on the corpus (one moment-fold pass), project
    * every vector through the codegen'd affine mat-vec, and build the
    * IVF routing index in the REDUCED space with the full vector
    * carried beside each assignment for the re-rank stage.
    */
  def buildPcaIvfIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      components: Int = 16,
      nlist: Int = 16,
      seed: Long = 42L,
      maxIter: Int = 8): PcaIvfIndex = {
    val model = EmbeddingStats.pca(df, vecCol, components)
    val prepared = EmbeddingStats.pcaProject(df, vecCol, model, "__proj")
      .select(col(idCol), col("__proj"),
        VectorOps.asDouble(col(vecCol)).as("__full"))
    val ivf = buildIvfIndex(prepared, idCol, "__proj",
      nlist = nlist, seed = seed, maxIter = maxIter, carryCols = Seq("__full"))
    PcaIvfIndex(model, ivf)
  }

  /** y = A(q − μ), driver-side — queries are single vectors. */
  private def pcaProjectQuery(m: EmbeddingStats.PcaModel, q: Seq[Double]): Seq[Double] = {
    require(q.length == m.d, s"query dim ${q.length} != model dim ${m.d}")
    m.axes.toSeq.map(a => driverDot(a.length)(a(_), i => q(i) - m.mean(i)))
  }

  /** Coarse-to-fine ANN through the PCA-reduced index: project the
    * query into the eigenbasis, IVF-probe `nprobe` cells in reduced
    * space for a `k * shortlist` candidate set, then re-rank the
    * candidates by EXACT full-dimension cosine (the carried vectors —
    * no second corpus scan). With nprobe = nlist and a shortlist
    * covering the corpus this is exactly brute-force top-k regardless
    * of the eigenbasis or cells (the q_sim_pq_exhaustive identity);
    * realistic settings trade recall for probing `components/d` of the
    * bytes, floor-pinned in SimilaritySpec.
    */
  def pcaIvfTopK(
      index: PcaIvfIndex,
      idCol: String,
      query: Seq[Double],
      k: Int,
      nprobe: Int = 4,
      shortlist: Int = 4): DataFrame = {
    require(shortlist >= 1, s"shortlist factor must be >= 1, got $shortlist")
    val cand = ivfTopK(index.ivf, idCol, pcaProjectQuery(index.pca, query), k * shortlist, nprobe)
    rerank(index.ivf.assigned, idCol, cand, cosineTo(col("__full"), query), "cos_sim", k)
  }

  /** Persist an IVF index: centroids as a tiny JSON-lines table (nlist
    * rows — readable by anything), the cell assignment as a bucketed,
    * cell-sorted external table via [[graft.sources.TableIO.writeBucketed]].
    *
    * This is what makes the index durable AT SCALE: a probe against the
    * loaded table prunes buckets on `cell IN (...)` (file skipping, no
    * scan of unprobed cells) and the batch path's equi-join on `cell`
    * reads the corpus side with ZERO shuffle exchange — re-clustering or
    * re-shuffling 100 TB per session is exactly what this avoids.
    * Asserted at plan level in SimilaritySpec.
    */
  def saveIvfIndex(
      index: IvfIndex,
      idCol: String,
      tableName: String,
      path: String,
      buckets: Int = 16): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    writeSidecar(index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "cvec"), s"$path/centroids")
    writeSidecar(Seq(idCol).toDF("id_col"), s"$path/idcol")
    // Persist EVERY assignment column — id/vector/cell plus any
    // carryCols metadata the index was built with: filtered search
    // ([[ivfTopKWhere]]) must survive the persist/load round-trip, and
    // a loaded index without its attributes silently could not filter.
    // The known trio leads so stores predating the idcol sidecar keep
    // their first-column id contract.
    val carry = index.assigned.columns
      .filterNot(Set(idCol, "v", "cell")).map(col).toSeq
    graft.sources.TableIO.writeBucketed(
      index.assigned.select((Seq(col(idCol), col("v"), col("cell")) ++ carry): _*),
      tableName, s"$path/assigned", buckets, Seq("cell"))
    clearTombstones(spark, path)
  }

  /** Load a persisted IVF index: centroids to the driver (nlist x dim —
    * tiny), the assignment as the bucketed table. The returned index is
    * drop-in for [[ivfTopK]]/[[ivfTopKBatch]]; no clustering runs.
    * Tombstoned ids ([[deleteFromIndex]]) are filtered out here, so
    * every probe of a loaded index honors prior deletions without any
    * index rewrite: the bucketed table stays byte-identical, its
    * cell-sorted, bucket-pruned layout being the index's value.
    */
  def loadIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      path: String): IvfIndex = {
    val cents = spark.read.json(s"$path/centroids")
      .select(col("cell").cast("int"), col("cvec").cast("array<double>"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val table = spark.table(tableName)
    IvfIndex(cents, withoutTombstones(spark, path, table, idColOf(spark, path, table)))
  }

  /** Fold accumulated tombstones into the store: rewrite the bucketed
    * assignment without the deleted rows; the save clears the
    * tombstones. [[deleteFromIndex]] is O(deletions) per call and every
    * probe pays one (broadcast) anti-join; vacuum is the O(index)
    * compaction you amortize over many deletions — run it when
    * tombstones reach a few percent of the corpus. The kept rows are
    * local-checkpointed before the overwrite because they are read from
    * the very table being rewritten. Kept without a pipeline caller: it
    * maintains the IVF store that `q_sim_ivf_persisted` writes.
    */
  def vacuumIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      idCol: String,
      tableName: String,
      path: String,
      buckets: Int = 16): Unit = {
    val idx = loadIvfIndex(spark, tableName, path) // tombstones filtered here
    val clean = idx.assigned.localCheckpoint(true)
    saveIvfIndex(IvfIndex(idx.centroids, clean), idCol, tableName, path, buckets)
  }

  /** Resolve the assignment table's id column by NAME from the `idcol`
    * sidecar [[saveIvfIndex]] writes; stores that predate the sidecar
    * (e.g. the streaming-assign path) fall back to the first column,
    * which was the only contract before.
    */
  private def idColOf(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      table: org.apache.spark.sql.DataFrame): String = {
    val p = new org.apache.hadoop.fs.Path(s"$path/idcol")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) storeIdCol(spark, path)
    else table.columns.head
  }

  /** Split hot Voronoi cells so no probe has to scan an outsized one.
    *
    * Skewed corpora (one dominant language, boilerplate-heavy crawls)
    * concentrate mass in a few cells; a probe routed there scans
    * `count(hotCell)` vectors instead of ~`N/nlist`, and at 100 TB that
    * single cell is the straggler task. Rebalance re-KMeans each cell
    * whose row count exceeds `hotFactor` x the corpus mean into
    * ~`count/mean` subcells (capped at `maxSplit`), reusing the hot
    * cell's id for the first subcell and appending the rest, so COLD
    * cells keep their ids, their centroids, and their rows untouched —
    * an incremental index (bucketed table, streamed appends) only
    * rewrites the hot cells' rows.
    *
    * The returned index honors the same contract as [[buildIvfIndex]]
    * (centroids positionally indexed by cell id; assigned = (id, v,
    * cell)), so [[saveIvfIndex]]/[[loadIvfIndex]]/[[ivfTopK]]/
    * [[ivfTopKBatch]]/[[assignCells]] are all drop-in. Driver state
    * stays bounded: the cell histogram is nlist rows and each fit scans
    * only its own cell (bucket-pruned when assigned is a bucketed
    * table). Recall semantics are unchanged — nprobe = nlist is still
    * exactly brute force, and per-probe recall is governed by nprobe as
    * before (asserted in SimilaritySpec).
    */
  def rebalanceIvfIndex(
      index: IvfIndex,
      idCol: String,
      hotFactor: Double = 4.0,
      maxSplit: Int = 32,
      seed: Long = 42L,
      maxIter: Int = 8): IvfIndex = {
    require(hotFactor > 1.0, s"hotFactor must exceed 1 (got $hotFactor)")
    require(maxSplit >= 2, s"maxSplit must be at least 2 (got $maxSplit)")
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // Cell histogram: nlist rows — driver-bounded, like the centroids.
    val counts = index.assigned.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val mean = counts.values.sum.toDouble / index.centroids.length
    val hot = counts.filter { case (_, n) => n > hotFactor * mean }.keys.toSeq.sorted
    if (hot.isEmpty) return index

    // Materialize the hot rows ONCE: every per-cell KMeans fit (maxIter
    // passes each) and transform below reads this bounded cached slice.
    // Without it, a loaded (uncached) index pays ~(hot_cells + 2) full
    // corpus scans for what is a hot-cells-sized working set.
    val hotRows = index.assigned
      .filter(col("cell").isin(hot.map(Integer.valueOf): _*))
      .select(col(idCol), col("v"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val grown = scala.collection.mutable.ArrayBuffer[Array[Double]](index.centroids: _*)
    val pieces = hot.map { cell =>
      // Aim each subcell at the corpus mean: a 27x-mean cell splits ~27
      // ways (capped), not in half — one rebalance pass reaches balance.
      val m = math.min(math.min(maxSplit.toLong, counts(cell)),
        math.max(2L, math.ceil(counts(cell) / mean).toLong)).toInt
      val prepared = hotRows.filter(col("cell") === cell)
        .withColumn("features", array_to_vector(col("v")))
      // Same init rationale as buildIvfIndex: routing cells don't need
      // converged clustering, and recall stays governed by nprobe.
      val model = new KMeans().setK(m).setSeed(seed + cell).setFeaturesCol("features")
        .setInitMode("random").setMaxIter(maxIter).fit(prepared)
      val sub = model.clusterCenters.map(_.toArray)
      val ids = sub.indices.map { i =>
        if (i == 0) { grown(cell) = sub(0); cell }
        else { grown += sub(i); grown.length - 1 }
      }
      val idMap = typedLit(ids.indices.map(i => i -> ids(i)).toMap)
      model.transform(prepared)
        .select(col(idCol), col("v"), element_at(idMap, col("prediction")).as("cell"))
    }
    val cold = index.assigned
      .filter(!col("cell").isin(hot.map(Integer.valueOf): _*))
      .select(col(idCol), col("v"), col("cell"))
    val assigned = pieces.foldLeft(cold)(_ union _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialize the rebalanced assignment, then drop the builder-local
    // hot slice and the superseded input cache: the caller holds the NEW
    // index; keeping the old one's cache alive would double the
    // index-sized memory footprint for the session's lifetime. (The old
    // IvfIndex value stays usable — its assignment just recomputes if
    // probed again.)
    assigned.count()
    hotRows.unpersist()
    index.release()
    IvfIndex(grown.toArray, assigned)
  }

  /** Assign each row to its nearest centroid cell — the routing half of
    * IVF without any clustering: [[nearestCellsInPlan]] with n = 1, the
    * same distance a probe routes by, row-local. Output schema matches
    * `IvfIndex.assigned` (id, v in its ORIGINAL vector type, cell), so
    * the result appends into a persisted index layout unchanged.
    */
  def assignCells(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    df.select(col(idCol), col(vecCol).as("v"))
      .withColumn("cell",
        element_at(nearestCellsInPlan(VectorOps.asDouble(col("v")), centroids, 1), 1))

  /** Append pre-assigned rows into a persisted index table, preserving
    * the bucketed-by-cell layout (the bucket spec must match the one the
    * table was created with — Spark validates on append). This is what
    * keeps probes prune-correct as the corpus grows.
    */
  def appendToIvfIndex(assigned: DataFrame, tableName: String, buckets: Int): Unit =
    assigned.write.format("parquet").mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(buckets, "cell").sortBy("cell")
      .saveAsTable(tableName)

  /** Idempotent per-batch append for [[streamingIvfAssign]]: foreachBatch
    * is at-least-once (a batch whose sink write succeeded but whose
    * checkpoint commit did not is REPLAYED on restart), and a blind
    * parquet append would then duplicate index rows — ivfTopK could
    * return the same id twice within k. A batch-id marker file, written
    * only AFTER the append succeeds, makes the replay a no-op.
    *
    * Residual window: a crash between the append and the marker write
    * still duplicates that one batch. The PQ store closes it with a
    * batch record in its [[graft.sources.VersionedTable]] manifest;
    * this store's bucketed catalog table stays outside any
    * manifest, because its bucket pruning and shuffle-free batch join
    * are the index's value. Callers needing exactness under that window
    * should dedup on `idCol` at probe time.
    */
  def appendIvfBatchIdempotent(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      tableName: String,
      buckets: Int,
      checkpoint: String,
      batchId: Long): Unit = {
    val hconf = batch.sparkSession.sessionState.newHadoopConf()
    val marker = new org.apache.hadoop.fs.Path(s"$checkpoint/graft-batch-commits/$batchId")
    val fs = marker.getFileSystem(hconf)
    if (!fs.exists(marker)) {
      appendToIvfIndex(assignCells(batch, idCol, vecCol, centroids), tableName, buckets)
      fs.mkdirs(marker.getParent)
      fs.create(marker, true).close()
    }
  }

  /** Continuous ingest into a persisted IVF index: each micro-batch is
    * routed onto the EXISTING centroids (no re-clustering — cells only
    * drift when the index is rebuilt, the standard IVF operating mode)
    * and appended bucket-aligned via foreachBatch, guarded against
    * restart replays by [[appendIvfBatchIdempotent]]'s batch-id markers
    * (kept under the query's own checkpoint directory, so index and
    * marker lifecycle travel together). The streaming half of
    * [[saveIvfIndex]]/[[loadIvfIndex]].
    */
  def streamingIvfAssign(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      tableName: String,
      buckets: Int,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        appendIvfBatchIdempotent(batch, idCol, vecCol, centroids, tableName, buckets, checkpoint, batchId)
      }
      .start()

  /** ANN top-k through an IVF index: route the query to its `nprobe`
    * nearest centroids (driver-side — centroids are tiny), scan only
    * those cells, rank by exact cosine. Recall improves with nprobe at
    * linear cost; nprobe = nlist degenerates to brute force.
    */
  def ivfTopK(
      index: IvfIndex,
      idCol: String,
      query: Seq[Double],
      k: Int,
      nprobe: Int = 4): DataFrame =
    ivfTopKWhere(index, idCol, query, lit(true), k, nprobe)

  /** Attribute-FILTERED ANN through the IVF index — top-k among rows
    * satisfying `pred` (over `carryCols` the index was built with, plus
    * id/cell). The standard production vector-search requirement:
    * "nearest neighbors within this source/license/language slice".
    *
    * The predicate prunes INSIDE the probe — between the cell filter and
    * the scoring projection — so a narrow slice costs LESS than an
    * unfiltered probe, never a post-filter of its results. Returned rows
    * all satisfy `pred` exactly; like every IVF probe, RECALL against the
    * filtered brute-force answer is governed by `nprobe` — and filtered
    * search typically wants it WIDER than unfiltered (a selective
    * predicate thins each probed cell's candidate pool; nprobe = nlist
    * recovers exact filtered brute force, the SimilaritySpec identity).
    */
  def ivfTopKWhere(
      index: IvfIndex,
      idCol: String,
      query: Seq[Double],
      pred: org.apache.spark.sql.Column,
      k: Int,
      nprobe: Int = 8): DataFrame =
    topK(probeCells(index, query, nprobe)
        .filter(pred)
        .select(col(idCol), cosineTo(col("v"), query).as("cos_sim")),
      idCol, "cos_sim", k)

  /** [[ivfTopKWhere]] with AUTO-WIDENING nprobe: a selective predicate
    * thins each probed cell's candidate pool, and a fixed nprobe that
    * is ample unfiltered can under-fill the filtered top-k (fewer than
    * k matches probed, or a k-th result far below the filtered-brute
    * answer) with no signal to the caller. This variant widens the
    * probe until the pool of PREDICATE-SATISFYING candidates reaches
    * `minPoolFactor * k` (or every cell is probed), then ranks.
    *
    * Cost shape: widening rounds count only the NEWLY-added cells
    * (nprobe, then doubling), so the probed region is scanned at most
    * twice — once counting, once ranking — and the unprobed remainder
    * is never touched: on a cell-bucketed store each round reads only
    * its new cells' buckets. On a predicate dense in the nearest cells
    * the first count already clears the bar and the overhead is one
    * counting pass over nprobe cells. nprobe = nlist from the start
    * degenerates to exact filtered brute force, as ever.
    */
  def ivfTopKWhereWiden(
      index: IvfIndex,
      idCol: String,
      query: Seq[Double],
      pred: org.apache.spark.sql.Column,
      k: Int,
      nprobe: Int = 8,
      minPoolFactor: Int = 4): DataFrame = {
    require(minPoolFactor >= 1, s"minPoolFactor must be >= 1, got $minPoolFactor")
    val nlist = index.centroids.length
    val order = nearestCells(index.centroids, query, nlist)
    val target = minPoolFactor.toLong * k
    var probed = 0
    var pool = 0L
    var width = math.min(math.max(1, nprobe), nlist)
    while (pool < target && probed < nlist) {
      val newCells = order.slice(probed, width)
      pool += index.assigned
        .filter(col("cell").isin(newCells.map(Integer.valueOf): _*))
        .filter(pred)
        .count()
      probed = width
      width = math.min(width * 2, nlist)
    }
    ivfTopKWhere(index, idCol, query, pred, k, nprobe = probed)
  }

  /** Batch auto-widening, the batch analogue of [[ivfTopKWhereWiden]]
    * over the predicate slice, and a strictly better widening rule
    * because a batch can afford exact knowledge: ONE counting pass over
    * the slice (`slice.groupBy(cell).count()`, nlist rows out) is
    * amortized over every query, so each query keeps the MINIMAL prefix
    * of its distance-ranked cells whose cumulative slice count reaches
    * `minPoolFactor * k` (never below the `nprobe` floor), instead of
    * the single-query form's blind doubling (which exists precisely to
    * avoid a full-slice counting scan for one query). Fully declarative
    * — the per-query prefix is a row-local fold of the slice's
    * (cell → count) map over the query's ranked cells, no driver loop
    * and no exchange — and each query's probed set
    * is a superset of the fixed nprobe set, so its returned scores
    * dominate the fixed probe's (`ivfTopKBatch` over
    * `index.copy(assigned = index.assigned.filter(pred))`) pointwise.
    */
  def ivfTopKBatchWhereWiden(
      index: IvfIndex,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      pred: org.apache.spark.sql.Column,
      k: Int,
      nprobe: Int = 8,
      minPoolFactor: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    require(minPoolFactor >= 1, s"minPoolFactor must be >= 1, got $minPoolFactor")
    val inSlice = index.assigned.filter(pred)
    // The slice's cell -> row count map, one row joined to every query.
    val counts = inSlice.groupBy("cell").agg(count(lit(1)).as("cnt"))
      .agg(map_from_entries(collect_list(struct(col("cell"), col("cnt")))).as("cnts"))
    // Row-local: the cell at position i of a query's distance order is
    // probed while i < nprobe or the slice rows in the cells before it
    // are still short of the target.
    val routed = batchQueries(queries, qIdCol, qVecCol)
      .crossJoin(broadcast(counts))
      .withColumn("cells", nearestCellsInPlan(col("qv"), index.centroids, index.centroids.length))
      .select(col("qid"), col("qv"), col("qn"), explode(filter(col("cells"), (c, i) =>
        i < nprobe || aggregate(slice(col("cells"), lit(1), i), lit(0L),
          (acc, p) => acc + coalesce(col("cnts")(p), lit(0L))) < minPoolFactor.toLong * k)).as("cell"))
    topKPerQuery(probeBatch(inSlice, routed, excludeSelf), "qid", "id", "cos_sim", k, "rank")
      .select("qid", "id", "cos_sim", "rank")
  }

  /** Batch ANN through the IVF index: a whole DataFrame of queries is
    * routed in one plan — each query's nprobe nearest cells, row-local
    * ([[nearestCellsInPlan]], the same cells [[ivfTopK]] probes) ->
    * equi-join with the cell-partitioned corpus -> exact cosine -> rank.
    * Each query is replicated nprobe ways, each corpus vector touched
    * only for probed cells. This is the scale API — one driver-side
    * vector per call ([[ivfTopK]]) cannot amortize the scan.
    *
    * Filtered batch search is this over a narrowed index:
    * `index.copy(assigned = index.assigned.filter(pred))` for an
    * attribute predicate over carryCols, or a `left_semi` join of
    * `assigned` to an allowed-id set — the corpus side narrows BEFORE
    * the cell join, so out-of-slice rows never join, score, or rank.
    *
    * @param excludeSelf drop candidate rows whose corpus id equals the
    *                    query id — right for self-search (queries drawn
    *                    from the corpus, the identity match is noise);
    *                    set false when querying a foreign corpus where
    *                    ids may coincide by accident.
    */
  def ivfTopKBatch(
      index: IvfIndex,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int,
      nprobe: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    val routed = routeBatch(queries, qIdCol, qVecCol, index.centroids, nprobe)
    topKPerQuery(probeBatch(index.assigned, routed, excludeSelf), "qid", "id", "cos_sim", k, "rank")
      .select("qid", "id", "cos_sim", "rank")
  }

  /** LSH-bucketed kNN join — the scale path for [[knnJoin]]: candidates
    * are pairs whose hyperplane signatures agree on at least one
    * (maxHamming+1)-way chunk (pigeonhole guarantees every pair within
    * maxHamming signature bits), scored exactly, ranked per left row.
    * Recall is probabilistic (a true neighbor can differ in more bits);
    * rows with fewer than k candidates return what was found. Cost:
    * sum of per-bucket |L_b| x |R_b| instead of |L| x |R|.
    */
  def knnJoinLSH(
      left: DataFrame,
      right: DataFrame,
      idColL: String,
      idColR: String,
      vecColL: String,
      vecColR: String,
      k: Int,
      numPlanes: Int = 16,
      maxHamming: Int = 2,
      seed: Long = 42L): DataFrame = {
    val chunkCols = VectorOps.hyperplaneChunkKeys(numPlanes, maxHamming)
    val dim = left.select(size(col(vecColL))).head().getInt(0)
    val planes = VectorOps.randomPlanes(numPlanes, dim, seed)

    def prep(df: DataFrame, idCol: String, vecCol: String, side: String): DataFrame =
      normed(df, idCol, vecCol, side)
        .withColumn("ch", explode(chunkCols(
          VectorOps.hyperplaneSignature(col(s"v_$side"), planes))))
        .select(col(s"id_$side"), col(s"v_$side"), col(s"n_$side"),
          col("ch.chunk").as("chunk"), col("ch.cv").as("cv"))

    // Self-join (kNN-graph construction): alias ONE prepared plan on both
    // sides so the shuffle exchanges canonicalize identically and
    // ReuseExchange computes signatures + chunk explode once, not twice —
    // at scale that is one corpus scan saved per graph build.
    val selfJoin = (left eq right) && idColL == idColR && vecColL == vecColR
    val collided =
      if (selfJoin) {
        val p = prep(left, idColL, vecColL, "l")
        p.as("a").join(p.as("b"),
            col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv"))
          .select(
            col("a.id_l").as("id_l"), col("a.v_l").as("v_l"), col("a.n_l").as("n_l"),
            col("b.id_l").as("id_r"), col("b.v_l").as("v_r"), col("b.n_l").as("n_r"))
      } else {
        prep(left, idColL, vecColL, "l").join(prep(right, idColR, vecColR, "r"), Seq("chunk", "cv"))
      }

    // Score at the collision, THEN dedup on the scalar triple — a pair
    // colliding in multiple chunks costs an extra dot product but the
    // dedup shuffle carries no vectors.
    topKPerQuery(collided
        .filter(col("id_l") =!= col("id_r"))
        .select(col("id_l"), col("id_r"), pairCosine("l", "r").as("cos_sim"))
        .distinct(),
      "id_l", "id_r", "cos_sim", k, "rank")
  }

  /** (id_side, v_side, n_side = ‖v‖): norms per ROW, not per pair —
    * cosine as one expression would redo both norms for every candidate
    * pair (measured 3x slower on a 4M-pair join).
    */
  private def normed(df: DataFrame, idCol: String, vecCol: String, side: String): DataFrame =
    df.select(col(idCol).as(s"id_$side"), col(vecCol).as(s"v_$side"))
      .withColumn(s"n_$side", VectorOps.l2Norm(col(s"v_$side")))

  private def pairCosine(a: String, b: String): Column =
    cosineScore(col(s"v_$a"), col(s"n_$a"), col(s"v_$b"), col(s"n_$b"))

  /** All-pairs exact top-k join (each left row to its k nearest right
    * rows) — building block for kNN-graph construction. Brute force with
    * a rank window; LSH-bucket ([[knnJoinLSH]]) at scale.
    */
  def knnJoin(
      left: DataFrame,
      right: DataFrame,
      idColL: String,
      idColR: String,
      vecColL: String,
      vecColR: String,
      k: Int): DataFrame = {
    topKPerQuery(normed(left, idColL, vecColL, "l").crossJoin(normed(right, idColR, vecColR, "r"))
        .filter(col("id_l") =!= col("id_r"))
        .select(col("id_l"), col("id_r"), pairCosine("l", "r").as("cos_sim")),
      "id_l", "id_r", "cos_sim", k, "rank")
  }

  /** Contrastive-pair mining for retrieval/embedding training: per
    * ANCHOR, the positives (cos ≥ `posMin` — near-duplicates / same-
    * item evidence) and the top-k HARD negatives — the most similar
    * candidates inside the (negMin, negMax) band, which is where the
    * training signal lives (random negatives are too easy, ≥ negMax
    * risks false negatives; the banded pick is the standard DPR/SBERT
    * recipe). Candidates above negMax but below posMin fall in the
    * "ambiguous" gap and are deliberately dropped from BOTH roles.
    *
    * Scale shape: the anchor set is a curated training seed (bounded —
    * the [[graft.operators.TrainingData.semanticContamination]]
    * broadcast argument), so scoring is one row-local corpus pass with
    * per-row norms; role assignment is a filter; the per-(anchor,
    * role) top-k is a window over the band-filtered slice. Exact and
    * fully oracle-replayable (positives unbounded by design — they
    * are typically few; negatives capped at k).
    */
  def hardNegatives(
      candidates: DataFrame,
      anchors: DataFrame,
      idCol: String,
      vecCol: String,
      anchorIdCol: String,
      anchorVecCol: String,
      k: Int,
      posMin: Double = 0.95,
      negMin: Double = 0.5,
      negMax: Double = 0.9): DataFrame = {
    mineRoles(normed(candidates, idCol, vecCol, "c")
        .crossJoin(broadcast(normed(anchors, anchorIdCol, anchorVecCol, "a")))
        .filter(col("id_c") =!= col("id_a"))
        .select(col("id_a").as("anchor_id"), col("id_c").as("vec_id"),
          pairCosine("c", "a").as("cos_sim")),
      k, posMin, negMin, negMax)
  }

  /** Role assignment over scored (anchor_id, vec_id, cos_sim) pairs: the
    * positives (cos ≥ posMin, unbounded) plus each anchor's top-k in
    * the [negMin, negMax) band. A zero vector scores null and so falls
    * in neither role.
    */
  private def mineRoles(
      scored: DataFrame,
      k: Int,
      posMin: Double,
      negMin: Double,
      negMax: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(negMin < negMax && negMax <= posMin,
      s"need negMin < negMax <= posMin, got $negMin/$negMax/$posMin")
    val pos = scored.filter(col("cos_sim") >= posMin)
      .select(col("anchor_id"), col("vec_id"), col("cos_sim"),
        lit("positive").as("role"))
    val neg = topKPerQuery(
        scored.filter(col("cos_sim") >= negMin && col("cos_sim") < negMax),
        "anchor_id", "vec_id", "cos_sim", k, "__rk")
      .select(col("anchor_id"), col("vec_id"), col("cos_sim"),
        lit("hard_negative").as("role"))
    pos.unionByName(neg)
  }

  /** [[hardNegatives]] routed through an IVF index — the corpus-scale
    * anchor path (r16): when the anchor set is itself corpus-sized (the
    * contrastive-mining norm, every training query an anchor), the
    * brute `crossJoin(broadcast(anchors))` stops being an option; here
    * each anchor routes to its `nprobe` nearest cells and scores only
    * those cells' rows, so cost is corpus·nprobe/nlist per anchor
    * batch, with anchors SHUFFLED to cells rather than broadcast.
    * Positives (cos ≥ posMin) sit nearest the anchor, so small nprobe
    * recovers them; the hard-negative band lives further out — raise
    * nprobe toward nlist to trade cost for band recall. At
    * nprobe = nlist every cell is probed and the output is EXACTLY the
    * brute [[hardNegatives]] on the same corpus (the established IVF
    * identity; partial-probe band recall floor pinned alongside it in
    * SimilaritySpec).
    */
  def hardNegativesIvf(
      index: IvfIndex,
      anchors: DataFrame,
      anchorIdCol: String,
      anchorVecCol: String,
      k: Int,
      posMin: Double = 0.95,
      negMin: Double = 0.5,
      negMax: Double = 0.9,
      nprobe: Int = 8): DataFrame = {
    val routed = routeBatch(anchors, anchorIdCol, anchorVecCol, index.centroids, nprobe)
    mineRoles(probeBatch(index.assigned, routed, excludeSelf = true)
        .select(col("qid").as("anchor_id"), col("id").as("vec_id"), col("cos_sim")),
      k, posMin, negMin, negMax)
  }
}
