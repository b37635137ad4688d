package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import SimilaritySearch.{compactStore, loadStore, probeCells, readSidecar, replaceStore, rerank, topK, writeSidecar}

/** Scalar (int8-range) embedding quantization — the memory-bandwidth
  * arm of similarity search at scale. A float32 corpus at 100 TB is a
  * 25 TB scan per brute-force query batch; SQ8 codes cut that 4x and
  * keep the scoring loop integer-only (SIMD-friendly, spill-dense).
  * Unlike the KMeans/LSH paths, quantization here is fully
  * DETERMINISTIC — per-dimension min/max + fixed rounding — so the
  * whole pipeline (params -> codes -> integer scores -> top-k) is
  * bit-reproducible in any engine and carries a real value oracle,
  * closing the loop the model-state ANN variants can only close by
  * recall bounds.
  *
  * Score semantics: integer dot product of codes ≈ monotone transform
  * of the float dot product (exact when data is axis-aligned uniform);
  * ranking quality is pinned against exact-dot top-k in
  * QuantizationSpec. This is MIPS-style (inner product), the usual
  * retrieval scoring for unnormalized embedding stores.
  */
object Quantization {

  /** Per-dimension (min, max) over the corpus. posexplode + groupBy(dim)
    * shuffles only executors x d partially-aggregated rows (map-side
    * combine), then collects d pairs — an index-metadata-sized driver
    * state, like IVF centroids.
    */
  def sq8Params(df: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val rows = df
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("dim")
      .collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Quantize to integer codes 0..255. floor((x - mn) * 255 / (mx - mn))
    * clamped — floor (not round) because its IEEE result is identical
    * across engines at every representable input, where round() ties
    * differ by dialect. Constant dimensions code to 0.
    */
  def sq8Quantize(vec: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    val mn = typedLit(mins.toSeq)
    val mx = typedLit(maxs.toSeq)
    transform(vec.cast("array<double>"), (x, i) => {
      val lo = element_at(mn, i + lit(1))
      val hi = element_at(mx, i + lit(1))
      when(hi === lo, lit(0))
        .otherwise(least(lit(255),
          greatest(lit(0), floor((x - lo) * lit(255.0) / (hi - lo)).cast("int"))))
    })
  }

  /** Decode codes back to reconstruction values: mn + (c + 0.5)·Δ
    * (bucket midpoint — halves the worst-case error vs decoding to the
    * bucket floor). Scoring happens on DECODED values: the raw integer
    * code dot is a dot of per-dimension SHIFTED values (codes are
    * affine in x), which ranks differently from the true dot whenever
    * mins are nonzero — measured on the test corpus it drops top-10
    * recall to ~0.06. Decode-then-dot keeps the 4x storage/scan win
    * (codes at rest, decode in the scoring loop) and approximates the
    * true inner product to Δ/2 per dimension.
    */
  def sq8Dequantize(codes: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    val mn = typedLit(mins.toSeq)
    val mx = typedLit(maxs.toSeq)
    transform(codes, (c, i) => {
      val lo = element_at(mn, i + lit(1))
      val hi = element_at(mx, i + lit(1))
      when(hi === lo, lo)
        .otherwise(lo + (c.cast("double") + lit(0.5)) * (hi - lo) / lit(255.0))
    })
  }

  /** IVF x SQ8 — the FAISS-style composition, both scale levers at
    * once: the IVF cells prune WHICH vectors are scanned
    * (nprobe/nlist of the corpus), the SQ8 codes shrink WHAT the scan
    * reads (1 byte/dim at rest instead of 4). The index stores codes;
    * scoring decodes to bucket midpoints and takes the exact cosine
    * against the full-precision query — asymmetric distance
    * computation, no query-side quantization loss. Recall vs the
    * float IVF probe is pinned in QuantizationSpec (the only extra
    * loss is Δ/2-per-dim reconstruction error).
    */
  def ivfSq8TopK(
      index: SimilaritySearch.IvfIndex,
      idCol: String,
      query: Seq[Double],
      mins: Array[Double],
      maxs: Array[Double],
      k: Int,
      nprobe: Int = 4): DataFrame =
    topK(probeCells(index, query, nprobe)
        // codes-at-rest: in a persisted index this column IS the storage;
        // quantize-then-decode here reproduces exactly what a stored-code
        // scan would read.
        .select(col(idCol),
          sq8Dequantize(sq8Quantize(col("v"), mins, maxs), mins, maxs).as("dec"))
        .select(col(idCol), SimilaritySearch.cosineTo(col("dec"), query).as("cos_sim")),
      idCol, "cos_sim", k)

  // ---------------------- product quantization ---------------------- //

  /** Trained PQ codebooks: `m` subspaces of `subDim` dims, `kc`
    * centroids each, flattened ((sub*kc + c)*subDim + j) for the
    * kernels. At 100 TB this is the storage-side ANN workhorse: a
    * 64-dim float32 corpus (256 B/vector) stores as m=8 byte codes
    * (32x), and ADC scoring reads ONLY the codes — the codebook is
    * index metadata like IVF centroids (m*kc*subDim doubles, broadcast
    * by value inside the expressions).
    */
  final case class PqModel(m: Int, kc: Int, subDim: Int, codebook: Seq[Double])

  /** Fit per-subspace codebooks with seeded KMeans — m small fits over
    * sliced sub-vectors, each a narrow projection of one corpus scan.
    * Deterministic for a fixed (data, seed, partitioning), like
    * [[graft.operators.SimilaritySearch.buildIvfIndex]]; model-state
    * queries stay rows-only in the contract for the same reason.
    */
  def trainPq(
      df: DataFrame,
      vecCol: String,
      m: Int = 8,
      kc: Int = 16,
      seed: Long = 42L,
      maxIter: Int = 8): PqModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val v = graft.functions.VectorOps.asDouble(col(vecCol))
    // One materialized pass feeds all m fits (each fit re-reads its
    // slice of the cached rows instead of re-scanning the source), and
    // the m independent fits run as CONCURRENT Spark jobs — the driver
    // is free while executors iterate, so wall time is ~the slowest
    // fit, not the sum. Results are ordered by subspace regardless of
    // completion order, so the codebook stays deterministic.
    val sliced = df.select((0 until m).map(sub =>
      array_to_vector(slice(v, sub * subDim + 1, subDim)).as(s"f$sub")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      sliced.count()
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(m, 8))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val fits = (0 until m).map { sub =>
          Future {
            val model = new KMeans().setK(kc).setSeed(seed + sub)
              .setFeaturesCol(s"f$sub")
              .setInitMode("random").setMaxIter(maxIter)
              .fit(sliced.select(col(s"f$sub")))
            model.clusterCenters.toSeq.flatMap(_.toArray.toSeq)
          }
        }
        val flat = Await.result(Future.sequence(fits), Duration.Inf).flatten
        PqModel(m, kc, subDim, flat)
      } finally pool.shutdown()
    } finally sliced.unpersist()
  }

  /** array<double> vector -> array<int> of m codes (codegen'd kernel). */
  def pqEncode(vec: Column, model: PqModel): Column =
    graft.plans.HashExpressions.pqEncode(
      graft.functions.VectorOps.asDouble(vec), model.codebook, model.m, model.kc, model.subDim)

  /** codes -> array<double> reconstruction (concatenated centroids). */
  def pqDecode(codes: Column, model: PqModel): Column =
    graft.plans.HashExpressions.pqDecode(
      codes, model.codebook, model.m, model.kc, model.subDim)

  /** Single-query PQ top-k by asymmetric distance computation: the
    * query's per-centroid partial dots go into an m x kc LUT (driver,
    * tiny); the corpus scan then does m integer-indexed lookups per
    * vector — no decode, no multiplies. ADC score == dot(query,
    * reconstruction) exactly (pinned in QuantizationSpec), so ranking
    * equals the decode-then-dot path while reading only codes.
    */
  def pqTopK(
      corpus: DataFrame,
      model: PqModel,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      k: Int): DataFrame =
    topK(corpus.select(col(idCol),
        adcScore(pqEncode(col(vecCol), model), model, query).as("score")),
      idCol, "score", k)

  /** PQ shortlist + exact re-rank — the production composition: ADC
    * over codes cuts the corpus to `k * shortlist` candidates reading
    * only m bytes/vector, then ONE narrow scan re-scores just the
    * candidates at full precision. Recall approaches exact search while
    * the full-precision read is k*shortlist rows instead of the corpus.
    */
  def pqTopKReranked(
      corpus: DataFrame,
      model: PqModel,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      k: Int,
      shortlist: Int = 4): DataFrame =
    rerank(corpus, idCol, pqTopK(corpus, model, idCol, vecCol, query, k * shortlist),
      exactDot(vecCol, query), "score", k)

  /** The re-rank score of the PQ arms: exact dot of the original vector
    * with the query, 6dp.
    */
  private def exactDot(vecCol: String, query: Array[Double]): Column =
    round(VectorOps.dot(VectorOps.asDouble(col(vecCol)), typedLit(query.toSeq)), 6)

  /** ADC score of PQ `codes` against one query, 6dp: m lookups in the
    * query's LUT per row.
    */
  private def adcScore(codes: Column, model: PqModel, query: Array[Double]): Column =
    round(graft.plans.HashExpressions.pqAdc(codes, adcLut(model, query).toSeq, model.kc), 6)

  /** OPQ-lite: a SEEDED random orthonormal rotation applied before PQ.
    * PQ quantizes each subspace independently, so a corpus whose
    * variance concentrates in a few dimensions wastes most subspaces on
    * near-constants while one subspace absorbs all the distortion; a
    * rotation spreads variance evenly across subspaces, cutting total
    * quantization error (recall lift pinned on a concentrated fixture
    * in QuantizationSpec). Rotation is orthonormal, so
    * dot(Rq, Rx) = dot(q, x): ADC over rotated codes estimates the SAME
    * inner product and the re-rank arm stays on original vectors. Fully
    * deterministic (seeded Gaussians + Gram-Schmidt on the driver) —
    * full OPQ learns R by alternating minimization; the seam is
    * identical, drop a learned matrix into [[OpqModel]].
    */
  final case class OpqModel(rotation: Seq[Double], dim: Int, pq: PqModel)

  /** Seeded random orthonormal matrix (row-major flat), via
    * Gram-Schmidt over seeded Gaussians.
    */
  def seededRotation(d: Int, seed: Long): Seq[Double] = {
    val rnd = new java.util.Random(seed)
    val a = Array.fill(d, d)(rnd.nextGaussian())
    var i = 0
    while (i < d) {
      var j = 0
      while (j < i) {
        var dot = 0.0
        var k = 0
        while (k < d) { dot += a(i)(k) * a(j)(k); k += 1 }
        k = 0
        while (k < d) { a(i)(k) -= dot * a(j)(k); k += 1 }
        j += 1
      }
      var n = 0.0
      var k = 0
      while (k < d) { n += a(i)(k) * a(i)(k); k += 1 }
      val inv = 1.0 / math.sqrt(n)
      k = 0
      while (k < d) { a(i)(k) *= inv; k += 1 }
      i += 1
    }
    a.flatten.toSeq
  }

  /** Rotate a vector column (codegen'd dense mat-vec). */
  def rotate(vec: Column, rotation: Seq[Double], d: Int): Column =
    graft.plans.HashExpressions.matVec(
      graft.functions.VectorOps.asDouble(vec), rotation, d)

  def trainPqRotated(
      df: DataFrame,
      vecCol: String,
      m: Int = 8,
      kc: Int = 16,
      seed: Long = 42L,
      maxIter: Int = 8): OpqModel = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val rot = seededRotation(dim, seed)
    val rotated = df.select(rotate(col(vecCol), rot, dim).as("__rv"))
    OpqModel(rot, dim, trainPq(rotated, "__rv", m, kc, seed, maxIter))
  }

  /** Full OPQ (Ge et al., CVPR 2013, "Optimized Product Quantization",
    * non-parametric form): learn the rotation by alternating
    * minimization — fix R, fit codebooks on the rotated corpus; fix the
    * codes, update R by orthogonal Procrustes against the
    * reconstructions. The Procrustes step needs only the d x d scatter
    * S = sum_i yhat_i x_i^T, computed DISTRIBUTED as one per-partition
    * outer-product fold over the codegen'd encode->decode columns
    * (d^2 doubles per partition partial — index metadata, like the
    * centroids); the SVD of S runs on the driver (d = embedding dim,
    * tiny; R = U V^T maximizes tr(R S^T)). Deterministic: seeded warm
    * start, seeded KMeans, pure-JVM SVD.
    *
    * opqIters = 1 is EXACTLY [[trainPqRotated]] (warm start, no R
    * update — asserted in QuantizationSpec), and the returned codebooks
    * are always the ones fitted against the FINAL rotation, so the
    * model drops into [[opqTopKReranked]]/[[pqEncode]] unchanged. Cost
    * is opqIters PQ trainings plus (opqIters-1) corpus scans for the
    * scatter — training-time only; probes never pay it, and a persisted
    * store ([[savePqIndex]] on the rotated corpus) amortizes it to zero.
    */
  def trainOpq(
      df: DataFrame,
      vecCol: String,
      m: Int = 8,
      kc: Int = 16,
      seed: Long = 42L,
      maxIter: Int = 8,
      opqIters: Int = 4): OpqModel = {
    require(opqIters >= 1, s"opqIters must be >= 1 (got $opqIters)")
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val x = graft.functions.VectorOps.asDouble(col(vecCol))
    var rot = seededRotation(dim, seed)
    var model: PqModel = null
    var t = 0
    while (t < opqIters) {
      val rotated = df.select(rotate(col(vecCol), rot, dim).as("__rv"))
      model = trainPq(rotated, "__rv", m, kc, seed, maxIter)
      t += 1
      if (t < opqIters) {
        import df.sparkSession.implicits._
        val pairs = df.select(
          x.as("_1"),
          pqDecode(pqEncode(rotate(col(vecCol), rot, dim), model), model).as("_2"))
          .as[(Seq[Double], Seq[Double])]
        // One scan: fold sum yhat x^T per partition, reduce d x d partials.
        val scatter = pairs.mapPartitions { it =>
          val acc = new Array[Double](dim * dim)
          it.foreach { case (xs, ys) =>
            val xv = xs.toArray
            val yv = ys.toArray
            var i = 0
            while (i < dim) {
              val yi = yv(i)
              var j = 0
              while (j < dim) { acc(i * dim + j) += yi * xv(j); j += 1 }
              i += 1
            }
          }
          Iterator.single(acc)
        }.reduce { (a, b) =>
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
          a
        }
        rot = procrustesRotation(scatter, dim)
      }
    }
    OpqModel(rot, dim, model)
  }

  /** argmax over orthonormal R of tr(R S^T) for the row-major d x d
    * scatter: SVD S = U Sigma V^T gives R = U V^T (driver-side — S is
    * tiny; breeze falls back to the pure-JVM LAPACK port offline, which
    * keeps the result deterministic).
    */
  private def procrustesRotation(scatter: Array[Double], d: Int): Seq[Double] = {
    val s = new breeze.linalg.DenseMatrix[Double](d, d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) { s(i, j) = scatter(i * d + j); j += 1 }
      i += 1
    }
    val decomp = breeze.linalg.svd(s)
    val r = decomp.U * decomp.Vt
    val out = new Array[Double](d * d)
    i = 0
    while (i < d) {
      var j = 0
      while (j < d) { out(i * d + j) = r(i, j); j += 1 }
      i += 1
    }
    out.toSeq
  }

  /** Rotated-ADC shortlist + exact re-rank on ORIGINAL vectors: the
    * rotation only changes what the codes approximate, never the final
    * scores.
    */
  def opqTopKReranked(
      corpus: DataFrame,
      model: OpqModel,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      k: Int,
      shortlist: Int = 4): DataFrame = {
    val rc = corpus.select(col(idCol).as("__id"), rotate(col(vecCol), model.rotation, model.dim).as("__rv"))
    val cand = pqTopK(rc, model.pq, "__id", "__rv", rotateVec(model.rotation, model.dim, query),
      k * shortlist).select(col("__id").as(idCol))
    rerank(corpus, idCol, cand, exactDot(vecCol, query), "score", k)
  }

  /** Driver-side rotation of a single query vector. */
  private def rotateVec(rot: Seq[Double], d: Int, v: Array[Double]): Array[Double] =
    Array.tabulate(d)(i => SimilaritySearch.driverDot(d)(j => rot(i * d + j), v(_)))

  /** Persist a PQ store: the codebook (+ id column NAME, resolved by
    * name at load — the IVF tombstone lesson) as a tiny JSON sidecar,
    * and the corpus as encoded codes at rest — m bytes/vector instead
    * of the float array — in the [[graft.sources.VersionedTable]]
    * `codes/`. A probe of the loaded store scans ONLY codes; nothing
    * re-encodes, nothing re-trains. Deletion is the shared
    * [[SimilaritySearch.deleteFromIndex]].
    *
    * @param carryCols metadata columns stored beside the codes — same
    *                  attribute co-location as the IVF/binary stores,
    *                  enabling [[pqTopKStoredWhere]] to filter inside
    *                  the stored probe.
    */
  def savePqIndex(
      corpus: DataFrame,
      model: PqModel,
      idCol: String,
      vecCol: String,
      path: String,
      carryCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    writeSidecar(Seq((model.m, model.kc, model.subDim, model.codebook, idCol))
      .toDF("m", "kc", "sub_dim", "codebook", "id_col"), s"$path/codebook")
    replaceStore(pqRows(corpus, model, idCol, vecCol, carryCols), s"$path/codes", path)
  }

  private def pqRows(
      df: DataFrame, model: PqModel, idCol: String, vecCol: String, carryCols: Seq[String]): DataFrame =
    df.select((Seq(col(idCol), pqEncode(col(vecCol), model).as("codes")) ++ carryCols.map(col)): _*)

  /** Load the codebook sidecar. */
  def loadPqModel(spark: org.apache.spark.sql.SparkSession, path: String): (PqModel, String) = {
    val r = readSidecar(spark, s"$path/codebook",
      "m int, kc int, sub_dim int, codebook array<double>, id_col string")
    (PqModel(r.getInt(0), r.getInt(1), r.getInt(2), r.getSeq[Double](3)), r.getString(4))
  }

  /** ADC top-k over a persisted store: scan codes, m lookups per row.
    * Identical scores to [[pqTopK]] over the original vectors with the
    * same model — encoding is deterministic, so codes at rest lose
    * nothing (pinned in QuantizationSpec).
    */
  def pqTopKStored(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: Array[Double],
      k: Int): DataFrame =
    pqTopKStoredWhere(spark, path, query, k, lit(true))

  /** Attribute-filtered ADC probe of a store written with carryCols:
    * the predicate lands before the ADC scoring and ranking, pushed to
    * the codes' parquet scan by Catalyst — uniform with
    * [[SimilaritySearch.ivfTopKWhere]] / `binaryTopKStoredWhere`.
    */
  def pqTopKStoredWhere(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: Array[Double],
      k: Int,
      pred: org.apache.spark.sql.Column): DataFrame = {
    val (model, idCol) = loadPqModel(spark, path)
    topK(loadStore(spark, s"$path/codes", path, idCol)
        .filter(pred)
        .select(col(idCol), adcScore(col("codes"), model, query).as("score")),
      idCol, "score", k)
  }

  /** Idempotent per-batch append of freshly-encoded codes to a
    * persisted PQ store — EXACTLY-once under restarts: one
    * [[graft.sources.VersionedTable.commit]] keyed on
    * `(checkpoint, batchId)`, whose record lands atomically with the
    * file list. A replay of a committed batch writes nothing; a batch
    * that died before its commit left no record and lands once. The
    * record survives saves and vacuums of the store. (The IVF ingest's
    * bucketed `insertInto` stays outside the manifest; its contract is
    * at-least-once with a marker closing the window to one batch — see
    * [[SimilaritySearch.appendIvfBatchIdempotent]].)
    *
    * `carryCols` MUST match the columns the store was written with
    * ([[savePqIndex]]'s carryCols): the commit's schema check refuses a
    * batch of another shape before writing anything, so no appended
    * row reads its carry columns as null and silently drops out of
    * filtered probes.
    */
  def appendPqBatchIdempotent(
      batch: DataFrame,
      model: PqModel,
      idCol: String,
      vecCol: String,
      path: String,
      checkpoint: String,
      batchId: Long,
      carryCols: Seq[String] = Nil): Unit =
    graft.sources.VersionedTable.commit(batch.sparkSession, s"$path/codes",
      pqRows(batch, model, idCol, vecCol, carryCols), batch = Some((checkpoint, batchId)))

  /** Continuous ingest into a persisted PQ store: each micro-batch is
    * encoded against the EXISTING codebooks (row-local projection, no
    * re-training — codebooks only drift when the store is rebuilt) and
    * appended via foreachBatch behind the batch-id replay guard. The
    * streaming half of [[savePqIndex]]/[[pqTopKStored]].
    */
  def streamingPqAppend(
      stream: DataFrame,
      model: PqModel,
      idCol: String,
      vecCol: String,
      path: String,
      checkpoint: String,
      carryCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        appendPqBatchIdempotent(
          batch, model, idCol, vecCol, path, checkpoint, batchId, carryCols)
      }
      .start()

  /** Fold tombstones into the store: a compaction commit of the live
    * codes. O(index) — amortize over many deletions, like the IVF
    * vacuum. Kept without a pipeline caller: it maintains the PQ store
    * that `q_sim_pq_persisted` writes.
    */
  def vacuumPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    compactStore(spark, s"$path/codes", path, loadPqModel(spark, path)._2)

  /** The query's per-centroid partial-dot lookup table (m x kc). */
  private def adcLut(model: PqModel, query: Array[Double]): Array[Double] = {
    require(query.length == model.m * model.subDim,
      s"query dim ${query.length} != ${model.m * model.subDim}")
    Array.tabulate(model.m * model.kc) { sc =>
      val q0 = sc / model.kc * model.subDim
      SimilaritySearch.driverDot(model.subDim)(
        j => query(q0 + j), j => model.codebook(sc * model.subDim + j))
    }
  }

  /** IVF x PQ — the FAISS IVF-PQ composition, both scale levers at
    * once: IVF cells prune WHICH vectors are scanned (nprobe/nlist of
    * the corpus), PQ codes shrink WHAT the scan reads (m bytes/vector),
    * and scoring is ADC against the full-precision query — no decode in
    * the loop. The re-rank arm then reads full vectors for only the
    * shortlist. Recall floors and the exhaustive-probe relationship are
    * pinned in QuantizationSpec.
    */
  def ivfPqTopK(
      index: SimilaritySearch.IvfIndex,
      model: PqModel,
      idCol: String,
      query: Array[Double],
      k: Int,
      nprobe: Int = 4,
      shortlist: Int = 4): DataFrame =
    pqTopKReranked(probeCells(index, query.toSeq, nprobe), model, idCol, "v", query, k, shortlist)

  /** Batch top-k over quantized codes: one corpus scan scores every
    * query (broadcast query codes, no shuffle on the corpus side until
    * the per-query top-k window). Self-matches (same id) are excluded.
    * Scores are decoded-dot (MIPS), rounded to 6dp so ranking ties are
    * engine-exact; ties break on id. Output: (qid, idCol, qscore, rnk).
    *
    * Scale shape: corpus-side work is a single narrow projection +
    * broadcast nested-loop against Q query rows (Q small); the only
    * exchange is the hash partition on qid for the top-k window, whose
    * input is already cut to |corpus| x Q scored rows. For large Q,
    * compose with the IVF router instead — this operator is the
    * exact-scoring arm.
    */
  def sq8TopKBatch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val (mins, maxs) = sq8Params(corpus, vecCol)
    SimilaritySearch.exhaustiveTopKPerQuery(corpus, queries, idCol, vecCol,
      v => sq8Dequantize(sq8Quantize(v, mins, maxs), mins, maxs),
      (c, q) => round(VectorOps.dot(c, q), 6), "qscore", k)
  }
}
