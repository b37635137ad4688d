package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The PER-BATCH INGESTION STEP a continuously-fed training corpus
  * runs: dedup the batch against everything already ingested, link the
  * survivors into the standing duplicate clusters, and extend the
  * state — all without ever rescanning the history.
  *
  * Standing state, both append-only and batch-replay-safe:
  *   - a FINGERPRINT INDEX ([[Dedup.fingerprintIndex]] rows: id,
  *     content_md5, sig) laid out as `delta=<batchId>` partition dirs —
  *     a replayed batch OVERWRITES its own delta, and the probe reads
  *     the index EXCLUDING the current batch id, so a replay can never
  *     see (and drop against) its own fingerprints;
  *   - a [[ClusterStore]] of duplicate-cluster membership (edge folding
  *     is idempotent, so replays are safe there by construction).
  *
  * TWO thresholds, deliberately: `dropAgreement` (tight, default 0.9)
  * decides what is a REDUNDANT COPY not worth storing; `linkAgreement`
  * (loose, default 0.5) decides what is RELATED ENOUGH that train/test
  * membership must be shared. Collapsing them loses one or the other:
  * dropping at 0.5 throws away genuinely distinct revisions; linking
  * only at 0.9 lets a paraphrase of a test document slip into train —
  * the eval-contamination hole [[TrainingData.leakageSafeSplitIncremental]]
  * exists to close.
  *
  * Scale shape per batch: the batch sketches once (row-local), probes
  * the index via band-collision joins (index side never re-sketched),
  * folds delta-sized pair sets into the cluster store, and appends one
  * fingerprint delta. History is touched only through the index scan —
  * ~(16 + 8·numHashes) bytes per historical doc, not its text.
  */
object Ingest {

  /** Read the standing fingerprint index, excluding `excludeBatch`'s
    * own delta (replay safety). Empty-schema frame when absent.
    */
  def readIndex(
      spark: SparkSession, path: String, excludeBatch: Long = -1L): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p) &&
        fs.listStatus(p).exists(_.getPath.getName.startsWith("delta=")))
      spark.read.parquet(path)
        .where(col("delta") =!= excludeBatch)
        .select("id", "content_md5", "sig")
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "id BIGINT, content_md5 STRING, sig ARRAY<BIGINT>"))
  }

  /** Does a standing index exist beyond `excludeBatch`'s own delta?
    * Pure filesystem metadata — lets the first-batch bootstrap (and a
    * replay of it) skip the whole probe machinery instead of running
    * md5/band/agreement joins against an empty frame.
    */
  def indexHasHistory(
      spark: SparkSession, path: String, excludeBatch: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val nm = st.getPath.getName
      nm.startsWith("delta=") && nm != s"delta=$excludeBatch"
    }
  }

  /** `dropped` = batch rows − landed survivors, both counted by named
    * metrics on the landing write the ingest runs anyway (no count job
    * of its own), so the value is fixed when the ingest returns: a
    * result held across a replay of the same batch id keeps its count.
    */
  final case class IngestResult(survivors: DataFrame, dropped: Long)

  /** Fold one batch into the standing corpus state. The batch text is
    * SKETCHED EXACTLY ONCE (r16 — was once per consumer, 4x): one
    * persisted [[Dedup.fingerprintIndex]] frame feeds the index sweep,
    * the index delta and the within-batch sweep, whose band keys derive
    * row-locally from signature array slices. The index sweep runs ONCE
    * (r20) on the in-memory `fpBatch` cache at the loose link threshold;
    * its persisted `candPairs` serve both the drop probe and the
    * survivor-vs-index link pairs. The surviving (novel) batch rows land
    * under `outPath/batch=<batchId>` (OVERWRITE — replay-idempotent,
    * partition-discoverable, the durable corpus increment a 100 TB
    * pipeline keeps anyway), and the survivor fingerprints land under
    * `indexPath/delta=<batchId>` before the within-batch sweep, which
    * reads those LANDED files: accurate size stats for its self-join
    * (an in-memory cache of the same rows left every sketch join
    * un-broadcast and ran 4x slower, measured at sf0.1 in r16). The
    * cross sweep is not held to that rule: it runs before anything has
    * landed, and the r20 single-sweep form measured faster than the
    * two landed-file sweeps it replaced (q_ingest_increment at sf0.1:
    * 86 → 74 jobs, 62k → 43k input records, 13.6/10.7 s → 9.55 s wall).
    * Writing the delta early is replay-safe by construction — the index
    * probe excludes the current batch id ([[readIndex]]), and the cluster
    * fold that follows is idempotent. Every link pair (in-batch +
    * survivor-vs-index) folds into `clusterStorePath`.
    */
  def ingestIncrement(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      clusterStorePath: String,
      outPath: String,
      batchId: Long,
      dropAgreement: Double = 0.9,
      linkAgreement: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      n: Int = 3,
      seed: Long = 42L): IngestResult = {
    val (result, edges, cand) = ingestCore(batch, idCol, textCol, indexPath, outPath,
      batchId, dropAgreement, linkAgreement, numHashes, bands, n, seed)
    try ClusterStore.applyEdges(batch.sparkSession, clusterStorePath, edges)
    finally cand.foreach(_.unpersist())
    result
  }

  /** BACKFILL form (r16): fold N batches sequentially — each batch's
    * drop probe sees every earlier batch's landed delta, so survivors
    * and index deltas are BIT-IDENTICAL to N [[ingestIncrement]] calls
    * — but the cluster store folds ONCE over the union of all link
    * pairs. Equivalence is the ClusterStore restriction law
    * (applyEdges(b1); applyEdges(b2) == one CC over b1 ∪ b2, spec-
    * pinned), so batching the fold changes nothing except skipping
    * N−1 store read/CC/rewrite rounds — the backfill amortization.
    * Deferred edge lineages read the LANDED deltas, not recomputation.
    */
  def ingestBackfill(
      batches: Seq[(Long, DataFrame)],
      idCol: String,
      textCol: String,
      indexPath: String,
      clusterStorePath: String,
      outPath: String,
      dropAgreement: Double = 0.9,
      linkAgreement: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      n: Int = 3,
      seed: Long = 42L): Seq[IngestResult] = {
    require(batches.nonEmpty, "ingestBackfill needs at least one batch")
    require(batches.map(_._1).distinct.size == batches.size,
      s"batch ids must be distinct, got ${batches.map(_._1)}")
    val spark = batches.head._2.sparkSession
    val folded = batches.map { case (batchId, batch) =>
      ingestCore(batch, idCol, textCol, indexPath, outPath,
        batchId, dropAgreement, linkAgreement, numHashes, bands, n, seed)
    }
    // each batch's unified index-sweep cache (delta-sized verified
    // pairs) stays pinned until the single deferred fold reads it
    try ClusterStore.applyEdges(spark, clusterStorePath,
      folded.map(_._2).reduce(_ unionByName _))
    finally folded.foreach(_._3.foreach(_.unpersist()))
    folded.map(_._1)
  }

  /** The per-batch core shared by [[ingestIncrement]] and
    * [[ingestBackfill]]: lands survivors + the index delta, returns the
    * result, the batch's LINK EDGES (lazy) for the caller to fold, and
    * the persisted unified index-sweep frame the edges read (the caller
    * unpersists it once the fold has run; a recompute on block loss
    * walks the deterministic sketch lineage, so correctness never
    * depends on the cache).
    */
  private def ingestCore(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      outPath: String,
      batchId: Long,
      dropAgreement: Double,
      linkAgreement: Double,
      numHashes: Int,
      bands: Int,
      n: Int,
      seed: Long): (IngestResult, DataFrame, Option[DataFrame]) = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    require(linkAgreement <= dropAgreement,
      s"linkAgreement ($linkAgreement) must be <= dropAgreement ($dropAgreement): " +
        "a pair tight enough to drop is certainly related enough to link")
    val spark = batch.sparkSession
    // First-batch bootstrap (and its replay): no standing history means
    // no probe — drop the md5/band/agreement joins entirely, land the
    // exact-deduped batch as-is. Decided from filesystem metadata, not
    // a job.
    val hasHistory = indexHasHistory(spark, indexPath, excludeBatch = batchId)
    val index = readIndex(spark, indexPath, excludeBatch = batchId)

    // The raw batch is read twice per ingest (the sketch build and the
    // landing write, which also counts it) — persist it for the
    // duration so the source scans once (r16 verdict: the un-persisted
    // count re-scanned the source in the #1 bench entry's hot loop).
    // Unpersisted before return; the link edges' lineage reads LANDED
    // files, never this frame. Ownership guard (r17 advice):
    // persist/unpersist only when the CALLER hasn't already cached this
    // frame — unpersist is not scoped, so releasing a caller-held cache
    // here would silently drop it on return.
    val ownsCache =
      batch.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val b =
      if (ownsCache)
        batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else batch

    // in-batch dedup first (house order: cheap hash groupBy, then the
    // sketch path only sees distinct texts), then ONE sketch of the
    // deduped batch — everything downstream reads fingerprints, never
    // re-shingles.
    val inBatch = Dedup.dropExactDuplicates(b, idCol, textCol)
    val fpBatch = Dedup.fingerprintIndex(inBatch, idCol, textCol, n, numHashes, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE index sweep serves BOTH thresholds (r20; was two): the band
    // collisions and the zip_with agreement verify do not depend on the
    // threshold at all, yet the drop probe (>= dropAgreement) and the
    // cross link sweep (>= linkAgreement) each ran the full
    // band-join + sig-rejoin + agreement pipeline against the same
    // index. Compute the verified (id_a, id_b, agreement) pairs ONCE at
    // the loose threshold (linkAgreement <= dropAgreement, enforced
    // above), persist the delta-sized result, and read both decisions
    // from it: drop = pairs at >= dropAgreement (exact md5 matches
    // carry agreement 1.0, so the exact-copy drop is subsumed); link =
    // all pairs whose batch side survived. Identical outputs by
    // construction — the drop id-set and the link pair-set equal the
    // two-sweep form's (dropped ids can't re-enter the link set: the
    // survivor semi-join excludes them, exactly as re-sketching the
    // landed delta did).
    val candPairs =
      if (!hasHistory) None
      else Some(Dedup.pairsAgainstIndexPresketched(
          fpBatch, index, numHashes, bands, minAgreement = linkAgreement)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // The landing write counts the batch rows and the rows it lands.
    // The batch count rides a landing-only copy of the dedup (fpBatch's
    // cached lineage stays unobserved, so no other job reports it); the
    // dedup reads it on both of its sides, and both see every batch row.
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (batchRows, landedRows) = (s"ingest_batch_$tag", s"ingest_landed_$tag")
    val landingDedup = Dedup.dropExactDuplicates(
      b.observe(batchRows, count(lit(1))), idCol, textCol)
    val landing = candPairs match {
      case None => landingDedup
      case Some(cp) =>
        val dupIds = cp.filter(col("agreement") >= dropAgreement)
          .select(col("id_a").as(idCol)).distinct()
        landingDedup.join(dupIds, Seq(idCol), "left_anti")
    }
    val counts = graft.sources.TableIO.writeObserved(
      landing.observe(landedRows, count(lit(1))), "parquet", s"$outPath/batch=$batchId",
      Seq(batchRows, landedRows), SaveMode.Overwrite)
    val dropped = counts(batchRows) - counts(landedRows)
    val survivors = spark.read.parquet(s"$outPath/batch=$batchId")

    // survivor fingerprints — the index delta, landed now so the link
    // sweeps below read real files with real size stats. Bootstrap
    // batches land the whole sketch as-is (survivors == inBatch when
    // there is no history to drop against — the semi-join would be an
    // identity, r20).
    val fpDelta =
      if (!hasHistory) fpBatch
      else fpBatch.join(
        survivors.select(col(idCol).as("id")), Seq("id"), "left_semi")
    fpDelta.write.mode(SaveMode.Overwrite).parquet(s"$indexPath/delta=$batchId")
    fpBatch.unpersist()
    if (ownsCache) b.unpersist()
    val fpSurv = spark.read.parquet(s"$indexPath/delta=$batchId")
      .select("id", "content_md5", "sig")

    // link-grade pairs: survivors vs standing corpus (the persisted
    // unified sweep, filtered to landed ids), plus among the survivors
    // themselves (jaccard banding at the loose threshold from the
    // landed signature slices). No history -> no cross sweep.
    // survivors are text-distinct (dropExactDuplicates ran first), so
    // the distinct-input sweep applies — no collapse/expand bookkeeping.
    val within = Dedup.minHashNearDuplicatesDistinctPresketched(
        survivors, fpSurv.select(col("id"), col("sig")), idCol, textCol,
        n, numHashes, bands, minJaccard = linkAgreement)
      .select(col("id_a"), col("id_b"))
    val edges = candPairs match {
      case None => within
      case Some(cp) =>
        cp.join(survivors.select(col(idCol).as("id_a")), Seq("id_a"), "left_semi")
          .select(col("id_a"), col("id_b"))
          .unionByName(within)
    }
    (IngestResult(survivors, dropped), edges, candPairs)
  }
}
